"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_chunk --seed 1 --seconds 15 --trace 0

Run from the repository root. One run:

1. launches the driver JVM, then sets up several times (``setup``) --
   a new SparkContext at ``local[nproc]`` (which starts fresh Python
   workers), a warm-up job, and the seeded inputs generated and cached
   -- and reports the median round as ``setup_s``;
2. checks the workload's job against the golden corpus (or the DuckDB
   oracle for ``dedup``), outside the timed job;
3. repeats the job, untimed, a fixed number of times, until the
   JIT-compiled code has reached steady speed (``warm``);
4. ``--trace 0``: repeats the job for ``--seconds`` and reports the
   end-to-end metrics; where the job starts with ``run_pipeline`` it
   also runs that stage once on a single task slot and prints the
   scaling efficiency;
   ``--trace 1``: alternates untraced and traced repetitions, with the
   Spark event log on, and reports the per-layer metrics.

Human-readable lines come first; the last line is the JSON result.
All scratch output goes to ``.perfbench_work/`` in the repository
root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

MIN_REPS = 3


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM
    and the Python workers it forks), sampled from /proc, less
    ``exclude_bytes`` (the JVM's pre-touched heap, which is resident
    whatever it holds; the heap in use is measured inside the JVM)."""

    def __init__(self, interval: float = 0.1, exclude_bytes: int = 0):
        super().__init__(daemon=True)
        self.interval = interval
        self.exclude_bytes = exclude_bytes
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants(self):
        children = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        out, todo = [], [os.getpid()]
        while todo:
            kids = children.get(todo.pop(), [])
            out.extend(kids)
            todo.extend(kids)
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self):
        while not self._stop_event.is_set():
            self.peak_bytes = max(self.peak_bytes,
                                  self.sample() - self.exclude_bytes)
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _conf(work: str, cores: int, event_log: str = ""):
    from pyspark import SparkConf

    conf = (
        SparkConf().setMaster(f"local[{cores}]").setAppName("perfbench")
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
        .set("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .set("spark.sql.adaptive.enabled", "true")
        .set("spark.sql.execution.arrow.pyspark.enabled", "true")
        .set("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # a fixed, pre-touched heap: all of it is resident from launch,
        # so the JVM's share of peak_rss_mb is its resident size less
        # the heap, plus the peak heap in use (``JvmHeap``). A fixed
        # young generation: the eden then peaks at the same size in
        # every run, and the heap's peak moves with what outlives it
        .set("spark.driver.memory", "1g")
        .set("spark.local.dir", os.path.join(work, "local"))
        .set("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .set("spark.driver.extraJavaOptions",
             "-Xms1g -Xmn256m -XX:+AlwaysPreTouch "
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    )
    if event_log:
        conf = (conf.set("spark.eventLog.enabled", "true")
                .set("spark.eventLog.dir", f"file://{event_log}")
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
    return conf


def launch_jvm(work: str, cores: int) -> None:
    """Start the driver JVM without a SparkContext."""
    from pyspark import SparkContext

    SparkContext._ensure_initialized(conf=_conf(work, cores))


def start_session(work: str, cores: int, event_log: str = ""):
    """A SparkSession on a new SparkContext (in the running JVM, if
    one was launched)."""
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.config(
        conf=_conf(work, cores, event_log)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, final: bool = False) -> None:
    """Stop the context; with ``final``, also stop the JVM and wait for
    it (the Python workers' daemon exits with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if final and gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class JvmHeap:
    """Heap of the driver JVM through its memory-pool MX beans: the
    committed size, and the peak in use since ``reset`` (summed over the
    heap pools' peaks, so an upper bound of the peak of their sum)."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._system = jvm.java.lang.System
        self._memory = mf.getMemoryMXBean()
        self._pools = [p for p in mf.getMemoryPoolMXBeans()
                       if p.getType().name() == "HEAP"]

    def committed(self) -> int:
        return self._memory.getHeapMemoryUsage().getCommitted()

    def reset(self) -> None:
        """Collect, so every run starts from an empty eden and the live
        heap, then reset the peaks."""
        self._system.gc()
        for pool in self._pools:
            pool.resetPeakUsage()

    def peak_used(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self._pools)


def host_probes() -> dict:
    """bench.py's single-thread and BLAS host-control probes, in s."""
    import bench

    return {"host_ctl": bench._host_control(),
            "host_ctl_par": bench._host_control_par()}


class Run:
    def __init__(self, args, work: str):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.cores = _cores()
        self.workload = WORKLOADS[args.workload]()
        self.event_log = os.path.join(work, "eventlog") if args.trace else ""
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failed_reps = 0
        self.rep_s = []
        self.warm_s = []
        self.heap = None
        self.heap_peak = 0

    # -- set-up -------------------------------------------------------
    def setup(self) -> float:
        """Launch the JVM, then the workload's ``setup_rounds`` rounds
        of: a new SparkContext (which starts fresh Python workers), a
        warm-up job, and the inputs generated and cached. Returns the
        median round; the first round also pays for class loading in the
        new JVM. The count is fixed, so the median round is the same
        one in every run."""
        t0 = time.perf_counter()
        launch_jvm(self.work, self.cores)
        self.jvm_launch_s = time.perf_counter() - t0
        self.setup_rounds = []
        for _ in range(self.workload.setup_rounds):
            if self.spark is not None:
                stop_session(self.spark)
            t0 = time.perf_counter()
            self.spark = start_session(self.work, self.cores, self.event_log)
            self.workload.warm_up(self.spark, self.work)
            self.workload.setup(self.spark, self.args.seed, self.work)
            self.setup_rounds.append(time.perf_counter() - t0)
        return statistics.median(self.setup_rounds)

    def check(self) -> None:
        n, bad = self.workload.check(self.spark, self.work)
        self.attempted += n
        self.failed += bad

    def warm(self) -> None:
        """Untimed repetitions (the correctness check has run the job
        once already), the workload's fixed ``warm_reps``: as many as
        the JIT-compiled code takes to reach steady speed here. A fixed
        count puts the timed repetitions at the same point of that ramp
        in every run."""
        for _ in range(self.workload.warm_reps):
            r = self.rep(self.workload.rep, False)
            if r is not None:
                self.warm_s.append(r[0])
            elif self.failed_reps > MIN_REPS:
                return

    def start_measuring(self) -> None:
        """Peak heap in use counts from here."""
        self.heap = JvmHeap(self.spark)
        self.heap.reset()

    # -- timed repetitions ---------------------------------------------
    def rep(self, fn, *args):
        """One repetition; returns (seconds, steps, extra, wall seconds)
        or None if it failed. Throughput counts the summed step seconds;
        the wall time also covers the driver work around the steps."""
        t0 = time.perf_counter()
        try:
            out = fn(self.spark, *args)
        except Exception as exc:  # a failed job counts, the run goes on
            print(f"rep failed: {exc!r}"[:2000], file=sys.stderr)
            self.failed_reps += 1
            n = self.workload.n_docs
            self.attempted += n
            self.failed += n
            return None
        (n_in, n_out, steps), extra = out if len(out) == 2 else (out, {})
        self.attempted += n_in
        self.failed += max(n_in - n_out, 0)
        return sum(steps.values()), steps, extra, time.perf_counter() - t0

    def timed(self) -> dict:
        """Full jobs for ``--seconds`` (at least ``MIN_REPS``). On
        workloads that run ``run_pipeline`` first, one more run of that
        stage on a single task slot gives the scaling efficiency."""
        n = self.workload.n_docs
        full = self.rep_s = []
        steps = []
        t_start = time.perf_counter()
        while True:
            r = self.rep(self.workload.rep, False)
            if r:
                full.append(r[0])
                steps.append(r[1])
            elapsed = time.perf_counter() - t_start
            if elapsed >= self.args.seconds and len(full) >= MIN_REPS:
                break
            if elapsed > 120 or self.failed_reps > MIN_REPS:
                break
        if not full:
            return {"docs_per_s": 0.0}
        # each step's median: a stall in one step of one job is dropped
        step_s = {k: statistics.median(s[k] for s in steps) for k in steps[0]}
        job_s = sum(step_s.values())
        out = {"docs_per_s": n / job_s, "reps": len(full), "step_s": step_s}
        self.heap_peak = self.heap.peak_used()
        if getattr(self.workload, "scaling", False):
            r = self.rep(self.workload.rep, True)
            if r:
                first_s = statistics.median(s["stage0"] for s in steps)
                out["scaling_eff"] = r[0] / (self.cores * first_s)
        return out

    def traced(self) -> dict:
        from perfbench import layers

        trace_dir = os.path.join(self.work, "spans")
        trivial_dir = os.path.join(self.work, "spans-trivial")
        os.makedirs(trace_dir, exist_ok=True)
        os.makedirs(trivial_dir, exist_ok=True)
        trivial = getattr(self.workload, "trivial_rep", None)
        sc = self.spark.sparkContext
        plain, traced, steps_plain, extras, walls = [], [], [], [], []
        t_start = time.perf_counter()
        deadline = t_start + self.args.seconds
        i = 0
        while True:
            sc.setJobGroup(f"untraced-{i}", "perfbench")
            r = self.rep(self.workload.rep, False)
            if r:
                plain.append(r[0])
                steps_plain.append(r[1])
                walls.append(r[3])
            sc.setJobGroup(f"traced-{i}", "perfbench")
            r = self.rep(self.workload.traced_rep, trace_dir)
            if r:
                traced.append(r[0])
                extras.append(r[2])
            if trivial is not None:
                sc.setJobGroup(f"trivial-{i}", "perfbench")
                n_out = trivial(self.spark, trivial_dir)
                self.attempted += self.workload.n_docs
                self.failed += abs(self.workload.n_docs - n_out)
            i += 1
            now = time.perf_counter()
            # per-layer metrics carry no bound: two pairs suffice
            if now >= deadline and len(traced) >= 2:
                break
            if now - t_start > 150 or self.failed_reps > MIN_REPS:
                break
        self.rep_s = plain
        app_id = sc.applicationId
        self.heap_peak = self.heap.peak_used()
        stop_session(self.spark, final=True)
        self.spark = None
        return layers.per_layer(
            workload=self.workload,
            plain=plain, traced=traced, steps_plain=steps_plain, walls=walls,
            extras=extras, trace_dir=trace_dir, trivial_dir=trivial_dir,
            event_log=os.path.join(self.event_log, app_id),
        )


def main(argv=None) -> int:
    args = _parse_args(argv)
    from perfbench.metrics import END_TO_END, PER_LAYER, UNITS
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import the program and this package from the root,
    # and every temporary file stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM (the launcher's included) writes its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")
        if p)

    t_run = time.perf_counter()
    run = Run(args, work)
    probes = {"before": host_probes()}
    sampler = None
    try:
        setup_s = run.setup()
        t_check = time.perf_counter()
        run.check()
        checked_failures = run.failed
        phases = {"jvm_launch_s": run.jvm_launch_s,
                  "setup_rounds_s": run.setup_rounds,
                  "check_s": time.perf_counter() - t_check}
        t_warm = time.perf_counter()
        run.warm()
        phases.update(warm_s=time.perf_counter() - t_warm,
                      warm_reps_s=run.warm_s)
        t_timed = time.perf_counter()
        run.start_measuring()
        heap_committed = run.heap.committed()
        sampler = RssSampler(exclude_bytes=heap_committed)
        sampler.start()
        values = run.traced() if args.trace else run.timed()
        phases["timed_s"] = time.perf_counter() - t_timed
    finally:
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        if run.spark is not None:
            stop_session(run.spark, final=True)
    peak_mb = (sampler.peak_bytes + run.heap_peak) / 2**20
    probes["after"] = host_probes()
    phases["total_s"] = time.perf_counter() - t_run

    failed_frac = run.failed / run.attempted
    values.update(setup_s=setup_s, peak_rss_mb=peak_mb)
    names = [m[0] for m in (PER_LAYER if args.trace else END_TO_END)]
    metrics = {k: {"value": values.get(k, 0.0), "unit": UNITS[k]}
               for k in names}
    correct = run.failed == 0 and run.failed_reps == 0
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{run.cores}] input={run.workload.digest[:16]}")
    for k in names:
        print(f"  {k:40s} {metrics[k]['value']:.6g} {metrics[k]['unit']}")
    if "scaling_eff" in values:
        print(f"  {'scaling_eff':40s} {values['scaling_eff']:.6g} ratio")
    print(f"  {'failed_frac':40s} {failed_frac:.6g} ratio")
    print(f"  correctness: {'PASS' if correct else 'FAIL'} "
          f"(check failures {checked_failures}, failed {run.failed} "
          f"of {run.attempted} docs, failed jobs {run.failed_reps})")
    print("detail " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": run.cores, "input_digest": run.workload.digest,
        "failed_frac": failed_frac, "probes": probes, "phases": phases,
        "rep_s": run.rep_s,
        "memory_mb": {"outside_heap_peak": sampler.peak_bytes / 2**20,
                      "heap_peak_used": run.heap_peak / 2**20,
                      "heap_committed": heap_committed / 2**20},
        "extra": {k: v for k, v in values.items() if k not in metrics},
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
