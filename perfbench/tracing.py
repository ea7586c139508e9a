"""The traced run's instruments, all from outside the program.

* ``Tracer`` times spans around the benchmark's own calls into each
  layer and keeps counters; ``dbscan(stage_times=...)`` fills in the
  operator stages.
* ``Routes`` wraps the names ``operators.dbscan`` imports (and
  ``connected_components``) to count which route ran and how many
  oversized rows it saw. The counters are recorded, never gated on, so
  a later reroute shows but is not blocked.
* ``spark_layer`` reads the Spark event log for one run's job group:
  jobs, stages, tasks, task/CPU/GC seconds, shuffle and spill bytes,
  Python-worker bytes, and driver time outside the union of job
  intervals.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# dbscan(stage_times=...) keys -> per-layer metric names
STAGE_METRICS = {
    "grid": "operators.cells.grid_s",
    "partition_probe": "operators.cells.probe_s",
    "local": "operators.neighbors.local_s",
    "merge": "operators.dbscan.merge_s",
    "label": "operators.dbscan.label_s",
}
SWEEP_KERNELS = ("fused_local_phase", "neighbor_counts", "local_components_and_borders")


class Tracer:
    """Spans and counters of one run."""

    def __init__(self):
        self.values: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.values[name] += time.perf_counter() - t0

    def count(self, name: str, n: float = 1) -> None:
        self.values[name] += n

    def add_stage_times(self, stage_times: dict) -> None:
        for key, name in STAGE_METRICS.items():
            self.values[name] += float(stage_times.get(key, 0.0))


class Routes:
    """Call counters on the engine's route entry points.

    ``install`` swaps module attributes for counting wrappers and
    ``remove`` puts the originals back; the wrapped functions run
    unchanged. ``tracer`` is the run that the next calls count into."""

    def __init__(self):
        self.tracer: Tracer | None = None
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        from cs533_big_data_data_mining_spark.operators import connected_components as cc_mod
        from cs533_big_data_data_mining_spark.operators import dbscan as db_mod

        for name in SWEEP_KERNELS:
            self._wrap(db_mod, name, self._kernel("operators.neighbors.kernel_calls.sweep"))
        self._wrap(db_mod, "cell_block_neighbor_counts", self._block_counts)
        self._wrap(db_mod, "cell_block_components_and_borders", self._kernel("operators.neighbors.kernel_calls.block"))
        self._wrap(db_mod, "grid_from_stats", self._grid)
        self._wrap(db_mod, "_driver_labels", self._timed("operators.dbscan.driver_s"))
        for mod in (cc_mod, db_mod):
            self._wrap(mod, "connected_components", self._cc)

    def remove(self) -> None:
        for mod, name, fn in reversed(self._saved):
            setattr(mod, name, fn)
        self._saved.clear()

    def _wrap(self, mod, name: str, make) -> None:
        fn = getattr(mod, name)
        self._saved.append((mod, name, fn))
        setattr(mod, name, functools.wraps(fn)(make(fn)))

    def _kernel(self, metric: str):
        def make(fn):
            def wrapper(*args, **kwargs):
                self.tracer.count(metric)
                return fn(*args, **kwargs)

            return wrapper

        return make

    def _block_counts(self, fn):
        def wrapper(big_celled, sizes, *args, **kwargs):
            self.tracer.count("operators.neighbors.kernel_calls.block")
            self.tracer.count("operators.cells.oversized_cells", len(sizes))
            self.tracer.count("operators.cells.oversized_rows", sum(sizes.values()))
            return fn(big_celled, sizes, *args, **kwargs)

        return wrapper

    def _grid(self, fn):
        def wrapper(*args, **kwargs):
            spec = fn(*args, **kwargs)
            self.tracer.count("operators.cells.grid_axes", len(spec.dims))
            return spec

        return wrapper

    def _timed(self, metric: str):
        def make(fn):
            def wrapper(*args, **kwargs):
                with self.tracer.span(metric):
                    return fn(*args, **kwargs)

            return wrapper

        return make

    def _cc(self, fn):
        def wrapper(*args, **kwargs):
            self.tracer.count("operators.connected_components.calls")
            with self.tracer.span("operators.connected_components.call_s"):
                return fn(*args, **kwargs)

        return wrapper


# ---------------------------------------------------------------- event log

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            with open(os.path.join(dirpath, f)) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        continue  # a torn last line
    return events


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals (overlaps once)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def spark_layer(events: list[dict], group: str, run_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` metrics of the jobs tagged with job group ``group``."""
    jobs, stage_job = {}, {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") != group:
                continue
            jobs[e["Job ID"]] = [e["Submission Time"], None]
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
    m = defaultdict(float)
    stages = set()
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"]
        elif ev == "SparkListenerTaskEnd" and e.get("Stage ID") in stage_job:
            stages.add(e["Stage ID"])
            tm = e.get("Task Metrics") or {}
            m["tasks"] += 1
            m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    m["python_bytes_sent"] += int(acc.get("Update", 0))
                elif acc.get("Name") == PY_RETURNED:
                    m["python_bytes_received"] += int(acc.get("Update", 0))
    intervals = [(lo / 1e3, (hi or lo) / 1e3) for lo, hi in jobs.values()]
    out = {f"spark.{k}": m[k] for k in ("tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                                           "shuffle_write_bytes", "spill_bytes")}
    out["spark.jobs"] = float(len(jobs))
    out["spark.stages"] = float(len(stages))
    out["spark.driver_s"] = max(run_s - union_seconds(intervals), 0.0)
    out["spark.core_util"] = m["task_s"] / (cores * run_s) if run_s > 0 else 0.0
    out["operators.neighbors.python_bytes_sent"] = m["python_bytes_sent"]
    out["operators.neighbors.python_bytes_received"] = m["python_bytes_received"]
    return out
