#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the avecado_spark engine.

    python3 perfbench/run.py --workload tiles_z14 --seed 1 --seconds 20 \\
        --trace 0

Generates the workload's inputs from the seed, starts one Spark session on
local[nproc], runs the first job (set-up) and the workload's untimed warm-up
jobs, then runs closed-loop jobs, one at a time from this driver, for
`--seconds`. Every job scans the pages table and ends in a collected result
that is checked against an independent reference. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics with tracing off. --trace 1
turns the Spark event log on and runs the workload's cut points instead,
reporting the per-layer metrics (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 8
CONTROL_ROWS = 500_000

END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "1/s",
              "out_per_s": "1/s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "sources.scan_s": "s", "sources.scan_bytes": "B",
    "keys.geocode_s": "s", "keys.geocode_py_s": "s",
    "keys.geocode_py_bytes_sent": "B", "keys.geocode_py_bytes_returned": "B",
    "encode.phase1_s": "s", "encode.phase1_py_s": "s",
    "encode.phase1_shuffle_bytes": "B",
    "encode.phase2_s": "s", "encode.phase2_py_s": "s",
    "encode.phase2_shuffle_bytes": "B", "encode.partials_per_tile": "ratio",
    "encode.tile_bytes": "B", "encode.phase2_task_skew": "ratio",
    "adminizer.index_build_s": "s", "adminizer.probe_s": "s",
    "adminizer.exact_evals_per_point": "count",
    "adminizer.slate_per_point": "count", "adminizer.rescan_pct": "%",
    "webgraph.extract_links_s": "s", "webgraph.extract_py_bytes_sent": "B",
    "webgraph.edges_s": "s", "webgraph.pagerank_s": "s",
    "webgraph.round_shuffle_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.gc_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.cached_bytes_after": "B",
    "host.jvm_control_s": "s", "trace.job_s": "s",
}


def _parse(argv):
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--orders", type=int, default=None,
                   help="override the input size (orders of 1-7 pages)")
    return p.parse_args(argv)


def _configure_env(work: str, trace: bool) -> str:
    """Point Spark, its JVM and the Python workers at this checkout and at
    the run's work directory. Returns the event log directory."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # workers run the driver's own interpreter, not a launcher shim
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap is committed and touched up front, so the resident
            # size moves with off-heap and Python-worker memory, not with
            # when the collector last grew the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return events


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _isolate(spark) -> None:
    """Drop every cached table and persisted RDD (including local
    checkpoints) so the next job starts with zero cached blocks."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    left = _cached_bytes(spark)
    if left:
        raise RuntimeError(f"{left} cached bytes survive isolation")


def _jvm_control(spark, cpus: int) -> float:
    """Same-session pure-JVM control: md5 + hash aggregate over a range, no
    Python workers, no parquet. Host contention moves it; a regression in
    the engine does not."""
    from pyspark.sql import functions as F
    df = spark.range(0, CONTROL_ROWS, 1, 2 * cpus)
    t = time.perf_counter()
    (df.select(F.md5(F.col("id").cast("string")).alias("h"))
       .groupBy(F.substring("h", 1, 2)).count().count())
    return time.perf_counter() - t


def _checked_job(wl, spark, metrics=None):
    """(result or None, ok) for one job over the whole pages table; a
    failing job is reported on stderr and counted, not raised."""
    try:
        res = wl.job(spark, wl.pages(spark), metrics)
        return res, wl.check(res)
    except Exception:  # noqa: BLE001 - the loop must count and go on
        traceback.print_exc(file=sys.stderr)
        return None, False


def _timed(spark, wl, seconds: float, jvm_pid: int):
    from perfbench.host import PeakRss
    times, failed = [], 0
    rss = PeakRss(jvm_pid)
    rss.start()
    start = time.perf_counter()
    while True:
        _isolate(spark)
        t = time.perf_counter()
        _, ok = _checked_job(wl, spark)
        dt = time.perf_counter() - t
        times.append(dt)
        failed += not ok
        if time.perf_counter() - start + dt > seconds:
            break
    return times, failed, rss.stop()


def _traced(spark, wl, seconds: float):
    """Runs every cut point once per repetition until the time is up.
    Returns (walls per cut, kNN probe counters per rep, cached bytes after
    each full job, attempted, failed)."""
    from perfbench.eventlog import span
    cuts = wl.cuts()
    walls = {name: [] for name, _ in cuts}
    counters, cached, failed = [], [], 0
    start = time.perf_counter()
    rep = 0
    while True:
        t_rep = time.perf_counter()
        for name, sink in cuts:
            _isolate(spark)
            with span(spark, f"{name}#{rep}"):
                t = time.perf_counter()
                if sink is None:
                    metrics: dict = {}
                    _, ok = _checked_job(wl, spark, metrics)
                    failed += not ok
                    counters.append({k: v.value for k, v in metrics.items()})
                else:
                    sink(spark)
                walls[name].append(time.perf_counter() - t)
        cached.append(_cached_bytes(spark))
        rep += 1
        elapsed = time.perf_counter() - start
        if elapsed + (time.perf_counter() - t_rep) > seconds:
            break
    return walls, counters, cached, rep, failed


class _Layers:
    """Medians over repetitions of a traced run: wall time and event-log
    totals of each cut, and their self part (minus the previous cut)."""

    def __init__(self, cuts, walls, stats, reps):
        self.names = [n for n, _ in cuts]
        self.walls = walls
        self.stats = stats
        self.reps = reps

    def _tot(self, cut, key, r):
        if key == "wall":
            return self.walls[cut][r]
        st = self.stats.get(f"{cut}#{r}")
        return st.totals[key] if st else 0.0

    def total(self, cut, key="wall"):
        return statistics.median(self._tot(cut, key, r)
                                 for r in range(self.reps))

    def self_(self, cut, key="wall"):
        i = self.names.index(cut)
        if i == 0:
            return self.total(cut, key)
        prev = self.names[i - 1]
        return statistics.median(self._tot(cut, key, r)
                                 - self._tot(prev, key, r)
                                 for r in range(self.reps))

    def skew(self, cut):
        return statistics.median(
            self.stats[f"{cut}#{r}"].task_skew_of_last_python_stage()
            if f"{cut}#{r}" in self.stats else 0.0
            for r in range(self.reps))


def _per_layer(wl, walls, stats, counters, cached, reps, control):
    L = _Layers(wl.cuts(), walls, stats, reps)
    full = L.names[-1]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "sources.scan_s": L.total("sources.scan"),
        "sources.scan_bytes": L.total("sources.scan", "input_bytes"),
        "spark.shuffle_write_bytes": L.total(full, "shuffle_write_bytes"),
        "spark.spill_bytes": L.total(full, "spill_bytes"),
        "spark.gc_s": L.total(full, "gc_s"),
        "spark.executor_run_s": L.total(full, "run_s"),
        "spark.executor_cpu_s": L.total(full, "cpu_s"),
        "spark.tasks": L.total(full, "tasks"),
        "spark.task_failures": L.total(full, "task_failures"),
        "spark.cached_bytes_after": statistics.median(cached),
        "host.jvm_control_s": control,
        "trace.job_s": L.total(full),
    })
    m.update(wl.layer_metrics(L, counters))
    return m


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it)
    to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    events = _configure_env(work, bool(args.trace))
    from perfbench.host import nproc, steal_ticks
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work, args.orders)
    t_gen = time.perf_counter()
    sizes = wl.prepare()
    gen_s = time.perf_counter() - t_gen
    cpus = nproc()

    from avecado_spark.api import spark_session
    t0 = time.perf_counter()
    spark = spark_session(f"local[{cpus}]", app=f"perfbench-{wl.name}",
                          shuffle_partitions=SHUFFLE_PARTITIONS,
                          max_partition_bytes="4m")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        # the first job pays Python worker start-up, plan compilation and
        # JIT: set-up, not timed
        first, correct = _checked_job(wl, spark)
        setup_s = time.perf_counter() - t0
        warm_s = []
        for _ in range(wl.warm_jobs):
            t = time.perf_counter()
            _, ok = _checked_job(wl, spark)
            warm_s.append(time.perf_counter() - t)
            correct = correct and ok
        correct = correct and wl.spot_check(spark)
        control = _jvm_control(spark, cpus)
        steal0 = steal_ticks()
        if args.trace:
            walls, counters, cached, reps, failed = _traced(
                spark, wl, args.seconds)
            attempted = reps
        else:
            from pyspark import SparkContext
            times, failed, peak = _timed(spark, wl, args.seconds,
                                         SparkContext._gateway.proc.pid)
            attempted = len(times)
        steal1 = steal_ticks()
    finally:
        _stop(spark)

    context = {"workload": wl.name, "seed": args.seed, "inputs": sizes,
               "nproc": cpus, "driver_mem": DRIVER_MEM,
               "jvm_control_s": control,
               # share of the measured window's CPU time the host took away
               "steal_pct": 100.0 * (steal1[0] - steal0[0])
               / max(1, steal1[1] - steal0[1]),
               "generate_s": gen_s,
               "session_s": session_s, "setup_s": setup_s,
               "warm_job_s": warm_s, "first_result": first}
    if args.trace:
        from perfbench.eventlog import read
        metrics = _per_layer(wl, walls, read(events), counters, cached,
                             reps, control)
        units = PER_LAYER
    else:
        job_s = statistics.median(times)
        context["job_times_s"] = times
        metrics = {"setup_s": setup_s, "job_s": job_s,
                   "rows_per_s": wl.rows / job_s,
                   "out_per_s": wl.out_records(first) / job_s
                   if first else 0.0,
                   "peak_rss_mb": peak / 2**20}
        units = END_TO_END
    print(json.dumps({"context": context}), flush=True)
    return {"correct": bool(correct) and failed == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()}}


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "avecado_spark")):
        print(f"perfbench: no avecado_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = _parse(argv)
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
