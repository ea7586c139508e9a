"""Benchmark harness for the cs533 PySpark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dbscan_grid2d --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --check-oracle

One workload is one client: a closed loop of sequential runs in this
process, on the session ``get_spark()`` builds at ``local[nproc]`` with
its default memory. Inputs come from ``--seed``; every run's output is
checked against an independent oracle. The last line of stdout is the
result JSON (the line before it holds the host record and the raw
samples, wall times included). ``--trace 0`` reports the end-to-end
metrics, whose run cost is CPU seconds, not wall time, because on a
shared host neighbours' load moves wall time by up to 2x between
invocations; ``--trace 1`` reports the per-layer metrics of a traced
run, its wall time and the tracing overhead.
``--check-oracle`` cross-checks the oracles themselves. See
``perfbench/README.md``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")  # inputs, outputs, temp files, oracle cache
TMP = os.path.join(STATE, "tmp")
sys.path.insert(0, ROOT)

# everything Spark, the JVMs and the Python workers write stays in the
# checkout; -XX:-UsePerfData stops each JVM writing hsperfdata files to the
# system temp dir
os.makedirs(TMP, exist_ok=True)
os.environ["TMPDIR"] = TMP
os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(TMP, "spark-local")
os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"

import numpy as np  # noqa: E402

import oracle  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_SAMPLES = 2  # this process + one fresh child process
# an untimed run after the first: a run's cost falls steeply over the
# first warm runs while the JVM compiles hot code and Python workers
# load their modules (one fineweb session: 22.8, 16.6, 14.6, 11.8 CPU-s
# for its first four warm runs). More untimed runs would flatten it
# further, but the time budget in README.md has room for none.
WARMUP_RUNS = 1
WARM_RUNS = 2  # at least this many timed warm runs, however long they take


# ---------------------------------------------------------------- session


def start_session(event_log: str | None = None):
    """get_spark() at local[nproc], then one task per core through a
    Python worker, so worker start-up is part of set-up."""
    from cs533_big_data_data_mining_spark.session import get_spark

    # SparkSession.builder keeps options across sessions, so the event
    # log is switched off explicitly, not just left out
    conf = {"spark.ui.showConsoleProgress": "false", "spark.eventLog.enabled": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log,
        })
    cores = os.cpu_count() or 1
    spark = get_spark(master=f"local[{cores}]", extra_conf=conf)
    try:
        spark.range(0, cores, numPartitions=cores).mapInPandas(lambda it: it, "id long").count()
    except Exception:
        stop_session(spark, jvm_too=True)
        raise
    return spark


def stop_session(spark, jvm_too: bool) -> None:
    """Stop the session; with ``jvm_too`` also end the JVM (and with it
    its Python workers) and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    if not jvm_too:
        return
    from pyspark import SparkContext

    proc = gateway.proc
    workers = descendants(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    # the Python workers exit once the JVM has gone; wait for them too
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [pid for pid in workers if _alive(pid)]
        time.sleep(0.1)
    for pid in workers:
        os.kill(pid, 9)


def setup_probe() -> float:
    """Set-up time of one fresh process, which then tears down."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-probe"],
        cwd=ROOT, capture_output=True, text=True, timeout=150, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


class RssSampler:
    """High-water mark of the JVM's RSS plus its Python workers' RSS."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.pid, self.period, self.peak = jvm_pid, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.pid))
            self._stop.wait(self.period)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def _stat(pid) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                children.setdefault(int(_stat(p)[1]), []).append(int(p))
            except OSError:
                continue
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_rss(root: int) -> int:
    """Summed VmRSS in bytes of ``root`` and all its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:")) * 1024
        except (OSError, StopIteration):
            continue
    return total


def cpu_meter(jvm_pid: int):
    """``start = cpu_meter(jvm)``; ``elapsed = start()``; ``elapsed()`` is
    then the CPU seconds (user + system) this process, the JVM and its
    Python workers used since ``start()``, less the JVM's JIT compiler
    threads. Exited children count through their parents'
    cutime/cstime. Time the hypervisor stole from a vCPU is not in it.

    JIT compilation is left out because it is warm-up, not the run's
    work, and it comes in bursts: one fineweb session's compiler threads
    used 1.7-3.5 s per warm run on top of ~12 s, with no trend. The JVM
    starts and stops compiler threads as its queue grows and shrinks, so
    they are subtracted thread by thread, over the threads alive at the
    end: a thread that exits during the span leaves the per-thread list
    but its CPU stays in the process total, and subtracting list totals
    would count all its earlier CPU as the span's work."""

    def snapshot() -> tuple[int, dict[str, int]]:
        ticks = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                ticks += sum(int(v) for v in _stat(pid)[11:15])
            except OSError:
                continue
        jit = {}
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            try:
                with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if "CompilerThre" in raw[raw.index("(") : raw.rindex(")")]:  # "C1/C2 CompilerThread<n>", cut to 15 chars
                jit[tid] = sum(int(v) for v in raw.rsplit(")", 1)[1].split()[11:13])
        return ticks, jit

    def start():
        ticks0, jit0 = snapshot()

        def elapsed() -> float:
            ticks1, jit1 = snapshot()
            jit = sum(t - jit0.get(tid, 0) for tid, t in jit1.items())
            return (ticks1 - ticks0 - jit) / os.sysconf("SC_CLK_TCK")

        return elapsed

    return start


# ---------------------------------------------------------------- loop


def loop(spark, wl, seconds: float, on_run=None, rss: RssSampler | None = None) -> dict:
    """The first run, WARMUP_RUNS untimed runs, then timed warm runs
    until ``seconds`` have passed and at least WARM_RUNS ran. Every run
    is checked; one that raises counts as failed. ``on_run(i)`` returns
    the tracer for run ``i``; ``times[k]`` and ``cpu[k]`` are the wall
    and CPU seconds of run ``timed_from + k``.

    ``rss_peak`` is the RSS high-water mark over set-up and the first
    run: what one CLI invocation holds. The sampler stops there, so it
    does not compete with the timed warm runs. Over the warm runs the
    JVM heap keeps growing towards its 32g cap by GC-timing-dependent
    steps (seen: 1.3 to 2.0 GB after three 50k-point runs from the same
    ~1.0 GB start), which no fixed run count makes steady."""
    first, warmup, times, cpu_times, failed, rss_peak = None, [], [], [], 0, None
    i, timed_from = 0, 1 + WARMUP_RUNS
    cpu = cpu_meter(spark.sparkContext._gateway.proc.pid)
    while True:
        t0, cpu_elapsed = time.perf_counter(), cpu()
        try:
            dt, dc, ok = wl.run(spark, i, cpu, on_run(i) if on_run else None)
        except Exception as exc:  # noqa: BLE001 — a failed run is counted, not fatal
            print(f"run {i} raised {type(exc).__name__}: {exc}", file=sys.stderr)
            dt, dc, ok = time.perf_counter() - t0, cpu_elapsed(), False
        failed += not ok
        if i == 0:
            first = dt
            if rss is not None:
                rss.close()
                rss_peak = rss.peak
        elif i < timed_from:
            warmup.append(dt)
        else:
            times.append(dt)
            cpu_times.append(dc)
        i += 1
        if i == timed_from:
            deadline = time.perf_counter() + seconds
        if len(times) >= WARM_RUNS and time.perf_counter() >= deadline:
            return {
                "first": first,
                "warmup": warmup,
                "times": times,
                "cpu": cpu_times,
                "timed_from": timed_from,
                "attempted": i,
                "failed": failed,
                "rss_peak": rss_peak,
            }


def steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests, summed over all
    CPUs, in clock ticks (the ``steal`` field of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def host_record(spark, loadavg_start, steal_start) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "loadavg_start": loadavg_start,
        "loadavg_end": os.getloadavg(),
        "steal_s": (steal_jiffies() - steal_start) / os.sysconf("SC_CLK_TCK"),
        "spark.driver.memory": spark.conf.get("spark.driver.memory", None),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------- modes


def untraced(args, work: str, units: dict[str, str]) -> dict:
    loadavg, steal = os.getloadavg(), steal_jiffies()
    spark = start_session()
    setup = [time.perf_counter() - T0]
    rss = RssSampler(spark.sparkContext._gateway.proc.pid)
    try:
        setup += [setup_probe() for _ in range(SETUP_SAMPLES - 1)]
        wl = WORKLOADS[args.workload](args.seed, work, oracle.Cache(STATE))
        res = loop(spark, wl, args.seconds, rss=rss)
        host = host_record(spark, loadavg, steal)
    finally:
        rss.close()
        stop_session(spark, jvm_too=True)
    cpu_s = statistics.median(res["cpu"])
    values = {
        "cpu_s": cpu_s,
        "rows_per_cpu_s": wl.rows / cpu_s,
        "setup_s": statistics.median(setup),
        "peak_rss_mb": res["rss_peak"] / 2**20,
        "ok_frac": 1.0 - res["failed"] / res["attempted"],
    }
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        "host": host,
        "samples": {
            "first_run_s": res["first"],
            "warmup_s": res["warmup"],
            "run_s": res["times"],
            "cpu_s": res["cpu"],
            "setup_s": setup,
        },
    }


def traced(args, work: str, units: dict[str, str]) -> dict:
    """The loop on a fresh session with the event log on and the route
    counters installed, then the loop again untraced on a new session
    in the same JVM. Per-layer values are medians over the traced warm
    runs, which sit at the same point of JVM warm-up as an untraced
    invocation's warm runs. ``trace.overhead_s`` is the traced minus the
    untraced median run time; the untraced loop runs on the JVM the
    traced one warmed, so a single reading also carries warm-up."""
    loadavg, steal = os.getloadavg(), steal_jiffies()
    log_dir = os.path.join(work, "eventlog")
    routes = tracing.Routes()
    tracers: list[tracing.Tracer] = []

    def on_run(i):
        spark.sparkContext.setJobGroup(f"run{i}", "perfbench traced run")
        routes.tracer = tracing.Tracer()
        tracers.append(routes.tracer)
        return routes.tracer

    spark = start_session(event_log=log_dir)
    try:
        wl = WORKLOADS[args.workload](args.seed, work, oracle.Cache(STATE))
        routes.install()
        try:
            res = loop(spark, wl, args.seconds, on_run)
        finally:
            routes.remove()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        stop_session(spark, jvm_too=False)  # flushes the event log
        spark = start_session()
        plain = loop(spark, wl, args.seconds)
        host = host_record(spark, loadavg, steal)
    finally:
        stop_session(spark, jvm_too=True)

    events = tracing.read_event_log(log_dir)
    cores = os.cpu_count() or 1
    rows = []
    for i, dt in enumerate(res["times"], start=res["timed_from"]):  # timed warm runs only
        row = dict(tracers[i].values)
        row.update(tracing.spark_layer(events, f"run{i}", dt, cores))
        rows.append(row)
    values = {k: statistics.median([r.get(k, 0.0) for r in rows]) for k in units}
    values["session.first_run_s"] = res["first"]
    values["session.run_s"] = statistics.median(res["times"])
    values["trace.overhead_s"] = statistics.median(res["times"]) - statistics.median(plain["times"])
    failed = plain["failed"] + res["failed"]
    attempted = plain["attempted"] + res["attempted"]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        "host": host,
        "samples": {"untraced_run_s": plain["times"], "traced_run_s": res["times"]},
    }


def check_oracle() -> int:
    """Cross-check the oracles: the grid oracle against the all-pairs
    ``tests/oracle.seq_dbscan`` on a 5k-point slice of each test seed,
    and every fineweb pin against a fresh DuckDB run of its input."""
    import tempfile

    from tests.oracle import seq_dbscan
    from workloads import Fineweb, Grid2d

    bad = 0
    eps, min_pts = Grid2d.eps, Grid2d.min_pts
    for seed in range(1, 4):
        x = Grid2d.points(seed)[:5000]
        same = np.array_equal(oracle.grid_dbscan(x, eps, min_pts), seq_dbscan(x, eps, min_pts))
        print(f"grid oracle == seq_dbscan, seed {seed}: {same}")
        bad += not same
    with open(oracle.PINS) as fh:
        pins = json.load(fh)
    for key, pin in pins.items():
        seed = int(key.split("-")[1])
        with tempfile.TemporaryDirectory(dir=TMP) as work:
            fw = Fineweb(seed, work, oracle.Cache(work))
            fresh = oracle.fineweb_digest(fw.entry, work)
        same = list(fresh) == pin and fw.key == key
        print(f"pin {key} == DuckDB: {same}")
        bad += not same
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-oracle", action="store_true")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.setup_probe:
        spark = start_session()
        print(time.perf_counter() - T0, flush=True)
        stop_session(spark, jvm_too=True)
        return 0
    if args.check_oracle:
        return check_oracle()
    if not args.workload:
        ap.error("--workload is required")

    # metric names and units come from BENCHMARK.json: --trace 0 reports
    # its end_to_end list, --trace 1 its per_layer list
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = (traced if args.trace else untraced)(args, work, units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": result.pop("host"), "samples": result.pop("samples")}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
