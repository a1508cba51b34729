"""Spark session, load record and engine counters for one benchmark process.

Everything the session writes (local dirs, warehouse, event log, the shipped
package zip, JVM temp files) lands under the run's work directory, which
`run.py` creates inside the checkout.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time

# one JVM-only control job of fixed size (the bench_extra.control_query
# shape): its time does not depend on the engine's code, so a slow control
# marks a run taken on a loaded box
CONTROL_ROWS = 20_000_000


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A sixth of this machine's memory, clamped to 1–4 GiB: local mode puts
    driver and executors in one heap, and the box is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    gib = min(4, max(1, total_kb // (6 << 20)))
    return f"{gib}g"


def make_session(work: str, event_log: bool = False):
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseG1GC -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        # uncompressed: Spark 4 defaults to zstd, which this Python can't read
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.dir", "file://" + log_dir)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class EventLog:
    """Switches the session's event log on and off between passes, so one
    traced process can time passes with and without it, interleaved."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._listener = self._sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on and not self.on:
            self._sc.addSparkListener(self._listener)
        elif self.on and not on:
            self._sc.removeSparkListener(self._listener)
        self.on = on


def ship_package(spark, work: str) -> None:
    """`shipping.ensure_shipped` with the zip written inside the work dir
    (its default path is shared /tmp). Marks the context shipped, so the
    package's own ensure_shipped calls are no-ops."""
    from osm2mp_spark import shipping

    sc = spark.sparkContext
    if getattr(sc, shipping._FLAG, False):
        return
    sc.addPyFile(shipping.build_zip(os.path.join(work, "osm2mp_spark.zip")))
    setattr(sc, shipping._FLAG, True)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def control_s(spark) -> float:
    t0 = time.perf_counter()
    noop(spark.range(0, CONTROL_ROWS).selectExpr(
        "SUM(id * 3 % 7) AS s", "COUNT(*) AS n"))
    return time.perf_counter() - t0


def conf_record(spark) -> dict:
    return dict(sorted(spark.sparkContext.getConf().getAll()))


# --- memory -----------------------------------------------------------------

def _children(pid: int) -> list[int]:
    try:
        out = subprocess.run(["pgrep", "-P", str(pid)],
                             capture_output=True, text=True).stdout
    except OSError:
        return []
    return [int(p) for p in out.split()]


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _engine_pids() -> list[int]:
    """The driver JVM and every process below it (the Python daemon and
    its workers)."""
    out, stack = [], _children(os.getpid())
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out


def engine_peaks_mb() -> list[tuple[str, float]]:
    """(command, peak resident MB) of each engine process."""
    out = []
    for pid in _engine_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
        except OSError:
            continue
        out.append((name, _hwm_kb(pid) / 1024.0))
    return out


# --- streaming listener -----------------------------------------------------

def add_progress_listener(spark) -> list:
    """Collect each streaming trigger's progress (durations in ms) into the
    returned list, from Spark's StreamingQueryListener."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({
                "query_id": str(p.id),
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "durations_ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_Listener())
    return progress


def wait_for_progress(progress: list, query_id: str, n: int,
                      timeout_s: float = 10.0) -> list:
    """Listener events arrive asynchronously; wait until the query's n data
    triggers have reported."""
    deadline = time.time() + timeout_s
    while True:
        mine = [p for p in progress
                if p["query_id"] == query_id and p["rows"] > 0]
        if len(mine) >= n or time.time() > deadline:
            return sorted(mine, key=lambda p: p["batch_id"])
        time.sleep(0.05)


# --- statistics -------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it; (None, None) with fewer than eleven samples."""
    s = sorted(xs)
    if len(s) < 11:
        return None, None
    i = len(s) - 11
    return 100.0 * (i + 1) / len(s), float(s[i])


# --- event log --------------------------------------------------------------

def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in info.get("children", []):
        _walk_plan(child, out)


_PY_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}


def spark_counters(work: str, windows: list[tuple[float, float]]) -> dict:
    """Engine counters of the jobs submitted inside the given wall-clock
    windows (epoch seconds), summed, read back from the uncompressed event
    log after the session stopped."""
    log_dir = os.path.join(work, "eventlog")
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    sql_metrics: dict = {}
    stage_in_window: set = set()
    jobs = 0
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                        "SQLAdaptiveExecutionUpdate"):
                    _walk_plan(e.get("sparkPlanInfo", {}), sql_metrics)
                elif kind == "SparkListenerJobStart":
                    t = e["Submission Time"] / 1000.0
                    if any(a <= t <= b for a, b in windows):
                        jobs += 1
                        stage_in_window.update(e["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    events.append(e)
    c = {k: 0.0 for k in (
        "tasks", "task_s", "task_cpu_s", "gc_s", "scheduler_delay_s",
        "shuffle_bytes", "spill_bytes", "python_s", "python_bytes_in",
        "python_bytes_out")}
    c["jobs"] = float(jobs)
    for e in events:
        if e["Stage ID"] not in stage_in_window:
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        c["tasks"] += 1
        run_ms = m.get("Executor Run Time", 0)
        c["task_s"] += run_ms / 1e3
        c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        dur = info["Finish Time"] - info["Launch Time"]
        overhead = (m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + (info.get("Getting Result Time") or 0))
        c["scheduler_delay_s"] += max(0, dur - run_ms - overhead) / 1e3
        c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        c["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        for a in info.get("Accumulables", []):
            name, kind = sql_metrics.get(a.get("ID"), (a.get("Name"), ""))
            key = _PY_METRICS.get(name)
            if key is None or a.get("Update") is None:
                continue
            v = float(a["Update"])
            if key == "python_s":
                v /= 1e9 if kind == "nsTiming" else 1e3
            c[key] += v
    return c
