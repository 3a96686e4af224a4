"""Fold a Spark event log (uncompressed JSON lines) into per-span totals.

The benchmark wraps every call it makes into a layer in a job description
(`span`); every Spark job started inside inherits it, and so does each of
the job's stages and tasks. Folding the stage records by description gives
the Python-boundary bytes and time, shuffle, spill, GC and executor time of
that span, from one mechanism instead of per-query counters.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from contextlib import contextmanager

# stage accumulable name -> (total key, scale to the reported unit)
_STAGE_ACCUMS = {
    "time to run Python workers": ("py_s", 1e-3),
    "data sent to Python workers": ("py_bytes_sent", 1),
    "data returned from Python workers": ("py_bytes_returned", 1),
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
}
TOTALS = sorted({k for k, _ in _STAGE_ACCUMS.values()}
                | {"tasks", "task_failures"})


@contextmanager
def span(spark, name: str):
    """Tag every Spark job started inside with `name`."""
    sc = spark.sparkContext
    sc.setJobDescription(name)
    try:
        yield
    finally:
        sc.setJobDescription(None)


class SpanStats:
    """Totals of one span plus the per-stage task run times."""

    def __init__(self):
        self.totals = dict.fromkeys(TOTALS, 0.0)
        self.stage_tasks: dict[int, list[float]] = defaultdict(list)
        self.python_stages: list[int] = []

    def task_skew_of_last_python_stage(self) -> float:
        """max / median task run time of the span's last stage that ran
        Python workers."""
        if not self.python_stages:
            return 0.0
        times = self.stage_tasks[max(self.python_stages)]
        med = statistics.median(times) if times else 0.0
        return max(times) / med if med > 0 else 0.0


def read(log_dir: str) -> dict[str, SpanStats]:
    """description -> SpanStats, over every event log file in `log_dir`."""
    out: dict[str, SpanStats] = defaultdict(SpanStats)
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        # one file per session; stage ids restart in each
        stage_span: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = e.get("Properties", {}).get("spark.job.description")
                    if desc:
                        for s in e["Stage IDs"]:
                            stage_span.setdefault(s, desc)
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_span.get(e["Stage ID"])
                    if desc is None:
                        continue
                    st = out[desc]
                    st.totals["tasks"] += 1
                    if e["Task End Reason"]["Reason"] != "Success":
                        st.totals["task_failures"] += 1
                    run_ms = (e.get("Task Metrics") or {}).get(
                        "Executor Run Time", 0)
                    st.stage_tasks[e["Stage ID"]].append(run_ms / 1e3)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    desc = stage_span.get(info["Stage ID"])
                    if desc is None:
                        continue
                    st = out[desc]
                    for acc in info.get("Accumulables", []):
                        key = _STAGE_ACCUMS.get(acc.get("Name"))
                        if key is None:
                            continue
                        v = float(acc.get("Value") or 0) * key[1]
                        st.totals[key[0]] += v
                        if key[0] == "py_bytes_sent" and v > 0:
                            st.python_stages.append(info["Stage ID"])
    return out
