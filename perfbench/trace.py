"""Layer spans recorded from outside the engine, and the Spark event-log
parser that rolls task metrics into them.

A span is one call into a module's public function plus the action that
materializes its result. Every Spark job launched inside the span carries
the span name as its job group (``SparkContext.setJobGroup``), so the event
log attributes each task to exactly one span. Jobs already launched when
the call returns, before the benchmark runs any action, are the call's
eager jobs.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Spark's SQL metrics for the Python-worker boundary (values in ms)
PYTHON_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
# per-span metrics reported for every layer
SPAN_FIELDS = ("busy_s", "eager_jobs", "shuffle_mb", "python_s")


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit ``--conf`` arguments that turn the event log on."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
    ]


class Tracer:
    """Records spans: name → wall seconds and eager job count."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, dict] = {}

    @contextmanager
    def group(self, name: str):
        """Tag every job launched inside the block with ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("", "")

    def span(self, name: str, call, materialize):
        """Run ``call()``, count the jobs it launched, then run
        ``materialize(result)``; both under job group ``name``."""
        with self.group(name):
            t0 = time.perf_counter()
            out = call()
            eager = len(self.sc.statusTracker().getJobIdsForGroup(name))
            materialize(out)
            busy = time.perf_counter() - t0
        self.spans[name] = {"busy_s": busy, "eager_jobs": eager}
        return out


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Roll task metrics of every event-log file under ``log_dir`` up to
    job groups: jobs, tasks, shuffle_mb (bytes written), spill_mb (disk),
    python_s (start + initialize + run time of Python workers)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "shuffle_mb": 0.0, "spill_mb": 0.0, "python_s": 0.0}
    )
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[g]["jobs"] += 1
                    for s in ev["Stage IDs"]:
                        stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev["Stage ID"], "")]
                    g["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    g["shuffle_mb"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                    )
                    g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_METRICS:
                            g["python_s"] += float(acc.get("Update") or 0) / 1e3
    return dict(out)
