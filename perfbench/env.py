"""Environment pin, Spark session start and noise annotations.

Everything the benchmark writes lives under ``WORK`` inside the checkout
(parquet inputs, Spark local dirs, event logs, checkpoints, spans), so a
run touches nothing outside the directory it is started from.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"


def cpus() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def engine_cpus() -> int:
    """Task slots for ``local[N]``: half the CPUs. The other half is left
    to the JIT compiler threads (busy for the whole run, since every
    pass compiles new generated classes), the Python driver and its
    workers, and the collector; with every CPU given to tasks they
    contend with these, and timings spread more between runs."""
    return max(1, cpus() // 2)


def pin(n_cpus: int | None = None) -> dict[str, str]:
    """Pin the engine to this box before ``streaming_demos_spark`` is
    imported: it reads ``SPARK_GRAFT_CPUS`` at import time. The repo
    root goes on ``PYTHONPATH`` so the pandas-UDF workers Spark forks
    (``applyInPandasWithState``) can import the engine too."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    pinned = {
        "SPARK_GRAFT_CPUS": str(n_cpus or engine_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore::FutureWarning",
        # no hsperfdata files under /tmp from any JVM the run starts
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(pinned)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return pinned


def start_spark(app: str, event_log_dir: str | None = None):
    """Start the engine's session through ``session.get_spark``; return
    (spark, seconds). The event log is on only when a directory is given."""
    from streaming_demos_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, extra_conf=conf)
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def rss_mb(pid: int, field: str = "VmRSS") -> float:
    """Resident set of a process in MiB: current (``VmRSS``) or peak
    (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


def retained_rss_mb(spark, pid: int) -> float:
    """Resident set of the JVM after full collections: what the engine
    still holds (cached frames, state, generated code, metadata). RSS
    keeps falling over several collections, as Spark's context cleaner
    drops the blocks of collected RDDs, broadcasts and shuffles only
    after a collection has found them, and G1 shrinks the heap in steps
    (951, 837, then 713 MiB in one warm batch JVM). After one collection
    the batch read 690 or 800-830 MiB over ten runs of the same code, by
    how many had run before; five read the settled value."""
    gc = spark.sparkContext._jvm.java.lang.System.gc
    for _ in range(5):
        gc()
        time.sleep(0.4)
    return rss_mb(pid)


def cpu_s(jvm: int) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    descendants (the Python workers Spark forks)."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(f[1]), (int(f[11]) + int(f[12])) / tick)
    tree, frontier = {jvm}, [jvm]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    own = os.times()
    return own.user + own.system + sum(stats[p][1] for p in tree if p in stats)


class Noise:
    """Noise annotations printed beside the metrics so a reader can
    discount a noisy run; they never enter a metric. A calibration query
    (a fixed 4M-row hash aggregate) runs at each edge of the timed
    window; the CPU steal share, and the CPU seconds the engine's
    processes used, are taken over the window."""

    def __init__(self, spark, jvm: int):
        self.spark, self.jvm = spark, jvm
        self.cal, self.marks = [], []

    @staticmethod
    def _steal():
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
        return vals[7], sum(vals)

    def _calibrate(self) -> None:
        t0 = time.perf_counter()
        self.spark.range(0, 4_000_000, 1, 8).selectExpr(
            "bit_xor(xxhash64(id)) AS s"
        ).write.format("noop").mode("overwrite").save()
        self.cal.append(time.perf_counter() - t0)

    def start_window(self) -> None:
        self._calibrate()
        self.marks = [(time.perf_counter(), cpu_s(self.jvm), self._steal())]

    def end_window(self) -> None:
        self.marks.append((time.perf_counter(), cpu_s(self.jvm), self._steal()))
        self._calibrate()

    def summary(self) -> dict:
        (w0, c0, (s0, t0)), (w1, c1, (s1, t1)) = self.marks
        return {
            "calibration_s": round(sorted(self.cal)[len(self.cal) // 2], 4),
            "steal_pct": round(100.0 * (s1 - s0) / (t1 - t0), 2) if t1 > t0 else None,
            "window_s": round(w1 - w0, 3),
            "window_cpu_s": round(c1 - c0, 3),
        }
