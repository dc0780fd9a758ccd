"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload conflate_hot --seed 1 --seconds 20 --trace 0

Run from the repository root. One client in this process runs one
repetition at a time (a closed loop) on a ``local[nproc]`` session built by
``bench.build_spark``. With ``--trace 0`` the last line carries the
end-to-end metrics; with ``--trace 1`` the session also writes the Spark
event log, one traced repetition and one span per layer run after set-up,
and the last line carries the per-layer metrics.

Everything the run writes stays under ``.perfbench_work/`` in the working
directory and is removed at exit.
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
import threading
import time
import traceback

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "4g"  # bench.build_spark defaults to 48g, more than a 15 GB machine has

SPANS = (
    "joins.pip_join",
    "joins.knn_join",
    "conflate.keyed_existing",
    "conflate.run_conflate",
    "extract.run_extract",
    "manifest.write_resumable",
    "tile.run_tile_polygons",
    "tokenize.learn_bpe_from_df",
    "dedup.minhash_lsh_pairs",
    "dedup.connected_components",
    "decontam.ngram_overlap",
    "quality.hashed_score",
    "packing.pack_by_length_bucket",
    "training.training_manifest",
)
RATIOS = (
    "joins.pip_join.candidates_per_hit",
    "joins.knn_join.candidates_per_hit",
    "joins.salted_join.hot_row_share",
    "extract.run_extract.addrs_per_page",
    "manifest.write_resumable.jobs",
    "manifest.write_resumable.parts_rewritten",
    "manifest.write_resumable.resume_s",
    "dedup.connected_components.rounds",
    "dedup.minhash_lsh_pairs.candidates_per_pair",
)
UNITS = {"busy_s": "s", "eager_jobs": "count", "shuffle_mb": "MB", "python_s": "s"}
RATIO_UNITS = {"hot_row_share": "ratio", "jobs": "count", "parts_rewritten": "count",
               "rounds": "count", "addrs_per_page": "ratio", "resume_s": "s"}
SESSION_UNITS = {"spark.jobs": "count", "spark.tasks": "count", "spark.spill_mb": "MB",
                 "cache.rdds_left": "count", "trace.wall_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    from perfbench.trace import SPAN_FIELDS

    units = {f"{s}.{f}": UNITS[f] for s in SPANS for f in SPAN_FIELDS}
    units.update({r: RATIO_UNITS.get(r.rsplit(".", 1)[1], "ratio") for r in RATIOS})
    units.update(SESSION_UNITS)
    return units


# --- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_rss_mb(pid: int) -> float:
    """Resident memory of every process under ``pid`` (the driver JVM, the
    Python daemon and its workers), in MB. Pages shared between processes
    (the forked Python workers share the daemon's imports) are split among
    them (``Pss``), so the sum does not count them once per worker."""
    total_kb = 0
    for d in descendants(pid):
        try:
            with open(f"/proc/{d}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1e3


class RssSampler:
    """Samples ``tree_rss_mb`` of this process every ``period`` seconds
    while ``active``; ``peak`` is the largest sample."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0.0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.period):
            if self.active:
                self.peak = max(self.peak, tree_rss_mb(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- session -----------------------------------------------------------------


def prepare_env(work: str, trace: bool) -> str | None:
    """Environment for the JVM and Python workers; returns the event-log
    directory when tracing."""
    from perfbench.trace import event_log_conf

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        args += event_log_conf(log_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


# --- measurement -------------------------------------------------------------


class Loop:
    """Closed-loop repetitions with output checks."""

    def __init__(self, wl, release):
        self.wl = wl
        self.release = release
        self.reference = None
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.rows: list[int] = []
        self.resumes: list[float] = []
        self.rdds_left: list[int] = []

    def once(self, record: bool = True) -> dict | None:
        """One repetition; ``record=False`` for a warm-up, whose failure
        fails the set-up instead of counting as a failed repetition."""
        from perfbench.workloads import CheckFailed

        self.attempted += record
        t0 = time.perf_counter()
        try:
            out = self.wl.rep()
            wall = out.get("wall_s", time.perf_counter() - t0)
            digest = (out["rows"], out["hash"])
            if self.reference is None:
                self.reference = digest
            elif digest != self.reference:
                raise CheckFailed(f"checksum {digest} differs from the first repetition's {self.reference}")
        except Exception as e:  # noqa: BLE001 — a failed repetition is counted, not fatal
            traceback.print_exc()
            if record:
                self.failed += 1
            else:
                self.wl.setup_failures.append(f"warm-up: {e!r}")
            self.rdds_left.append(self.release())
            return None
        # counted before the release; a workload that releases inside its
        # repetition reports its own count
        left = self.release()
        self.rdds_left.append(out.get("rdds_left", left))
        if record:
            self.walls.append(wall)
            self.rows.append(out["rows"])
            if "resume_s" in out:
                self.resumes.append(out["resume_s"])
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import bench  # noqa: F401 — fails fast outside a full checkout

    from perfbench import inputs as I
    from perfbench import workloads as W
    from perfbench.trace import parse_event_log

    if args.workload not in W.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        log_dir = prepare_env(work, bool(args.trace))
        seed = I.set_seed(args.seed)
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = bench.build_spark(os.cpu_count() or 1)
            spark.sparkContext.setLogLevel("ERROR")
            try:
                result = run(spark, W.WORKLOADS[args.workload], work, seed, args, rss, t0)
            finally:
                stop_session(spark)
        layers = result.pop("layers")
        if args.trace:
            result["metrics"] = layer_metrics(layers, parse_event_log(log_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print("\n" + json.dumps(result), flush=True)
    return 0


def run(spark, cls, work, seed, args, rss, t0) -> dict:
    """Set up, warm up, then either measure for ``args.seconds`` or run the
    traced repetition and the layer spans."""
    from perfbench.trace import Tracer
    from perfbench.workloads import CheckFailed, release_caches

    wl = cls(spark, os.path.join(work, "data"), seed)
    session_s = time.perf_counter() - t0
    generate_s = wl.setup()
    loop = Loop(wl, lambda: release_caches(spark))
    # memory is sampled from the warm-up on, after a full collection shrinks
    # the driver JVM's heap to its live set, whatever the set-up left committed
    spark.sparkContext._jvm.System.gc()
    rss.active = True
    t1 = time.perf_counter()
    wl.warm_up(loop)
    # session start, one input generation (the median of several) and the
    # warm-up
    setup_s = session_s + generate_s + time.perf_counter() - t1

    if args.trace:
        tracer = Tracer(spark)
        with tracer.group("rep"):
            out = loop.once()
        rss.active = False
        rep_wall = loop.walls[-1] if loop.walls else 0.0
        try:
            ratios = wl.trace(tracer)
        except CheckFailed as e:
            wl.setup_failures.append(f"traced layers: {e}")
            ratios = {}
        if out is not None and "resume_s" in out:
            ratios["manifest.write_resumable.parts_rewritten"] = float(out["parts_rewritten"])
            ratios["manifest.write_resumable.resume_s"] = out["resume_s"]
        layers = {"spans": tracer.spans, "ratios": ratios, "rep_wall": rep_wall,
                  "rdds_left": loop.rdds_left[-1], "peak_rss_mb": rss.peak}
        metrics = None
    else:
        layers = None
        # repetitions while the next one, as long as the last, still ends
        # inside the window; at least one
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            loop.once()
            now = time.perf_counter()
            if now + (now - t) > start + args.seconds:
                break
        rss.active = False
        wall = statistics.median(loop.walls) if loop.walls else 0.0
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": statistics.median(loop.rows) / wall if wall else 0.0,
                           "unit": "1/s"},
        }
    for failure in wl.setup_failures:
        print(f"set-up check failed: {failure}", file=sys.stderr)
    checks_ok = loop.reference is not None and not wl.setup_failures
    summary = {
        "workload": cls.name, "seed": seed, "inputs": wl.props,
        "error_rate": loop.failed / max(loop.attempted, 1),
        "setup_s": round(setup_s, 3),
        "walls_s": [round(w, 3) for w in loop.walls],
        "resumes_s": [round(w, 3) for w in loop.resumes],
        "cache.rdds_left": loop.rdds_left,
        "peak_rss_mb": round(rss.peak, 1),
    }
    print(json.dumps(summary), flush=True)
    return {
        "correct": checks_ok and loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
        "layers": layers,
    }


def layer_metrics(layers: dict, groups: dict) -> dict:
    """The per-layer report: spans from the tracer and the event log, the
    traced ratios, and the traced repetition's session counters."""
    units = per_layer_units()
    values: dict[str, float] = {}
    for s in SPANS:
        span, g = layers["spans"].get(s, {}), groups.get(s, {})
        values[f"{s}.busy_s"] = span.get("busy_s", 0.0)
        values[f"{s}.eager_jobs"] = span.get("eager_jobs", 0)
        values[f"{s}.shuffle_mb"] = g.get("shuffle_mb", 0.0)
        values[f"{s}.python_s"] = g.get("python_s", 0.0)
    values.update({r: 0.0 for r in RATIOS})
    values.update(layers["ratios"])
    values["manifest.write_resumable.jobs"] = float(
        groups.get("manifest.write_resumable", {}).get("jobs", 0)
    )
    rep = groups.get("rep", {})
    values["spark.jobs"] = rep.get("jobs", 0)
    values["spark.tasks"] = rep.get("tasks", 0)
    values["spark.spill_mb"] = rep.get("spill_mb", 0.0)
    values["cache.rdds_left"] = layers["rdds_left"]
    values["peak_rss_mb"] = layers["peak_rss_mb"]
    values["trace.wall_s"] = layers["rep_wall"]
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
