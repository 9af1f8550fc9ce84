"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {osm_extract,pip_rollup,tile_ingest}
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout. Generates the workload's inputs from the
seed, sets up the engine several times (fresh SparkSession, Python-worker
warm-up, the program's own input caching) and reports the median, warms the
job up once, then runs complete jobs in a closed loop (one client, the next
job only after the previous one finished) for ``--seconds``, checking every
job's output against the generator's ground truth. With ``--trace 1`` it then
walks the same pipeline layer by layer under spans and runs the fixed-input
kernel micro-timings. A host-speed canary (``hostspeed.py``) runs beside it
all the while; set-up and job times are reported in nominal-host seconds.

Prints a human-readable report, then, as the last line of stdout, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Spans go to ``.perfbench_out/``; scratch files live under
``.perfbench_work/`` and are removed at exit. Every process started (the
canary, the JVM and its Python workers) is stopped and waited for before
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
DRIVER_MEMORY = "1g"
SHUTDOWN_WAIT_S = 60


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail_percentile(times: list[float]) -> tuple[float, float] | None:
    """The highest percentile of ``times`` that has at least ten samples
    beyond it: the (n-10)-th smallest value, as (percentile, value). None
    with fewer than 11 samples."""
    n = len(times)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(times)[n - 11]


def _noop_batches(it):
    import numpy as np
    import pandas as pd

    for pdf in it:
        yield pd.DataFrame({"n": np.array([len(pdf)], dtype=np.int64)})


class Bench:
    def __init__(self, args, workload, work, cores):
        self.args = args
        self.wl = workload
        self.work = work
        self.cores = cores
        self.spark = None

    def session(self, tracer):
        from osm_pbf2json_spark.session import get_session

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep the JVM's temp files (and no hsperfdata in /tmp) inside the
            # checkout; a fixed, pre-touched heap, so the JVM's RSS does not
            # follow the garbage collector's heap sizing from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
        }
        if self.args.trace:
            # keep every job and stage, so each span's counters can be read
            conf.update({"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "50000"})
        with tracer.span("session", "get_session"):
            self.spark = get_session(master=f"local[{self.cores}]", app_name="perfbench",
                                     shuffle_partitions=2 * self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        tracer.spark = self.spark if tracer.enabled else None
        with tracer.span("session", "python_worker_warm_up") as sp:
            n = 4 * self.cores
            sp.rows_out = self.spark.range(0, n, 1, n).mapInPandas(_noop_batches, "n long").count()

    def setup(self, tracer) -> list[tuple[float, float]]:
        """SETUPS fresh engines in a row; only the last one is kept and only
        its spans are recorded. Returns each set-up's (start, end)."""
        from tracing import Tracer

        windows = []
        for k in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t = tracer if k == SETUPS - 1 else Tracer(enabled=False)
            t0 = time.monotonic()
            self.session(t)
            self.wl.materialize(self.spark)
            windows.append((t0, time.monotonic()))
        return windows

    def clear_stale_blocks(self, keep: set):
        """Release every block a job persisted or checkpointed, so nothing
        crosses into the next job."""
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            if rdd.id() not in keep:
                rdd.unpersist(True)

    def loop(self, keep: set, out_dir: str):
        """Closed loop for --seconds: job, check, release, next job. A job is
        started only if, at the median job time so far, it ends within the
        window (the first job always runs). Returns each job's (start, end)
        and the failures."""
        windows, failures = [], []
        t_start = time.monotonic()
        while (not windows or time.monotonic() - t_start
               + statistics.median(b - a for a, b in windows) <= self.args.seconds):
            t0 = time.monotonic()
            try:
                result = self.wl.job(self.spark, out_dir)
                windows.append((t0, time.monotonic()))
                errs = self.wl.check(result)
            except Exception:  # a failed job counts against failed_frac
                windows.append((t0, time.monotonic()))
                errs = [traceback.format_exc(limit=3)]
            if errs:
                failures.append(errs)
            self.clear_stale_blocks(keep)
        return windows, failures

    def shutdown(self):
        """Stop Spark, close the JVM gateway, and wait for every descendant
        process (JVM, Python worker daemon) to exit."""
        from pyspark import SparkContext

        from tracing import process_tree

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=SHUTDOWN_WAIT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None
        me = os.getpid()
        deadline = time.time() + SHUTDOWN_WAIT_S
        while True:
            left = [p for p in process_tree(me) if p != me]
            if not left:
                return
            if time.time() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            for p in left:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.2)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share the
    hypervisor gave to other guests shows up as steal."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def versions(spark) -> dict:
    import pyspark

    return {
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def traced_run(bench, tracer, keep: set, work: str, out_dir: str) -> tuple[float, dict]:
    """The workload's own layer walk under spans, then the probe walks for
    the layers it does not reach, then the kernel micro-timings. Returns the
    own walk's wall time and the extra per-layer metrics."""
    from kernels import run_kernels
    from workloads import PROBE_SEED, PROBES

    spark, wl = bench.spark, bench.wl
    tracer.new_trace()
    with tracer.span("job", wl.name) as root:
        extra = wl.traced_walk(spark, tracer, out_dir)
    bench.clear_stale_blocks(keep)
    for make in PROBES[wl.name]:
        probe = make()
        pdir = os.path.join(work, f"probe-{probe.name}")
        os.makedirs(pdir, exist_ok=True)
        probe.generate(PROBE_SEED, pdir)
        tracer.new_trace()
        with tracer.span("probe", probe.name):
            probe.materialize(spark)
            for k, v in probe.traced_walk(spark, tracer, pdir).items():
                extra.setdefault(k, v)
        bench.clear_stale_blocks(keep)
    tracer.new_trace()
    extra.update(run_kernels(work, tracer))
    tracer.collect_counters()
    return root.end - root.start, extra


def run(args, work: str) -> int:
    from hostspeed import NOMINAL_S, Canary
    from tracing import RssSampler, Tracer
    from workloads import WORKLOADS

    nproc = os.cpu_count() or 1
    cores = max(1, min(4, nproc) // 2)
    wl = WORKLOADS[args.workload]()
    out_dir = os.path.join(work, "out")
    for d in (out_dir, os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine (and this benchmark's modules) from
    # this checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)

    env = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "nproc": nproc, "N": cores,
           "loadavg_before": os.getloadavg()}
    t0 = time.perf_counter()
    env["inputs"] = wl.generate(args.seed, work)
    env["gen_s"] = time.perf_counter() - t0

    tracer = Tracer(enabled=bool(args.trace))
    bench = Bench(args, wl, work, cores)
    layer: dict = {}
    try:
        with Canary(os.path.join(work, "canary.txt")) as canary, \
                RssSampler(exclude=frozenset({canary.proc.pid})) as rss:
            setups = bench.setup(tracer)
            env.update(versions(bench.spark))
            keep = {r.id() for r in bench.spark.sparkContext._jsc.getPersistentRDDs().values()}
            t0 = time.perf_counter()
            wl.warm_up(bench.spark, out_dir)
            env["warm_up_s"] = time.perf_counter() - t0
            bench.clear_stale_blocks(keep)
            env["peak_rss_setup_mb"] = rss.restart() / 2**20
            steal0, total0 = cpu_ticks()
            jobs, failures = bench.loop(keep, out_dir)
            loop_peak = rss.restart()
            steal1, total1 = cpu_ticks()
            env["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
            attempted = len(jobs)
            if args.trace:
                attempted += 1
                try:
                    traced_job_s, layer = traced_run(bench, tracer, keep, work, out_dir)
                except Exception:  # a failed traced job counts as a failed job
                    traced_job_s = 0.0
                    failures.append([traceback.format_exc(limit=3)])
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
    env["shutdown_s"] = time.perf_counter() - t0
    env["loadavg_after"] = os.getloadavg()

    # Set-up and job times in nominal-host seconds: each phase's measured
    # median times NOMINAL_S over the canary's median inside that phase.
    setup_f, job_f = canary.factor(setups), canary.factor(jobs)
    setup_times = [b - a for a, b in setups]
    times = [b - a for a, b in jobs]
    job_raw = statistics.median(times)
    job_s = job_raw * job_f
    tail = tail_percentile([t * job_f for t in times])
    e2e = {
        "setup_s": (statistics.median(setup_times) * setup_f, "s"),
        "job_s": (job_s, "s"),
        "input_rows_per_s": (wl.input_rows / job_s, "rows/s"),
        "peak_rss_mb": (loop_peak / 2**20, "MB"),
    }
    print("env " + json.dumps(env))
    print(f"measured: setups_s {[round(t, 3) for t in setup_times]}  "
          f"job_times_s {[round(t, 3) for t in times]}")
    print(f"host factor: set-up {setup_f:.4f}, jobs {job_f:.4f} (canary "
          f"{1e3 * canary.median_s(setups):.2f} / {1e3 * canary.median_s(jobs):.2f} ms, "
          f"nominal {1e3 * NOMINAL_S:.2f} ms, {len(canary.samples)} samples)")
    for name, (v, unit) in e2e.items():
        print(f"{name} = {v:.6g} {unit}")
    if tail is None:
        print(f"job_s_tail = undefined s (n={len(times)} jobs; needs 11 for ten beyond)")
    else:
        print(f"job_s_tail = {tail[1]:.6g} s (p{tail[0]:.1f} of n={len(times)} jobs)")
    print(f"failed_frac = {len(failures) / attempted:.6g} ratio "
          f"({len(failures)} of {attempted} jobs)")
    print(f"input size: {wl.input_rows} rows  gen_s = {env['gen_s']:.3f} s")
    for errs in failures[:3]:
        print("FAILED: " + " | ".join(e.strip().replace("\n", " / ") for e in errs))

    if args.trace:
        layer.update(tracer.layer_metrics())
        layer["trace.job_s"] = traced_job_s
        layer["trace.overhead_s"] = traced_job_s - job_raw
        layer["trace.overhead_frac"] = (traced_job_s - job_raw) / job_raw
        res_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(res_dir, exist_ok=True)
        spans_path = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
        tracer.write(spans_path)
        print(f"spans: {spans_path}")
        for k in sorted(layer):
            print(f"  {k} = {layer[k]:.6g}")
        print(f"tracing overhead: traced job {traced_job_s:.3f} s vs untraced job "
              f"{job_raw:.3f} s, both measured ({100 * (traced_job_s - job_raw) / job_raw:+.1f} %)")

    units = metric_units(args.trace)
    values = layer if args.trace else {k: v for k, (v, _) in e2e.items()}
    metrics = {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


def metric_units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osm_pbf2json_spark", "__init__.py")):
        print(f"no osm_pbf2json_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
