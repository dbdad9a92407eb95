"""Measurement plumbing shared by the workloads: a checkout-local Spark
session, CPU accounting from /proc/stat, Spark status-store deltas, and an
in-memory span recorder for traced runs.

Everything a run writes lands inside the checkout: ``perfbench/_work``
(Spark local dir, JVM and Python temp dirs, crawl state; removed at the
end of the run) and ``perfbench/_out`` (trace files).
"""

from __future__ import annotations

import bisect
import json
import os
import shutil
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
OUT = os.path.join(BENCH_DIR, "_out")

# Resource plan of one run on a 4-core / 15 GB box: one Spark JVM with
# this heap, SLOTS Python workers budgeted PYTHON_WORKER_BYTES each, and
# crawl state + shuffle files on disk inside the checkout (never tmpfs),
# capped at WORK_CAP_BYTES (a run that exceeds it fails its checks).
SLOTS = 4
JVM_HEAP = "2g"
WORK_CAP_BYTES = 2 << 30
PYTHON_WORKER_BYTES = 512 << 20

CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's own clock
    (covers interpreter start-up, which no in-process timer sees)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_jiffies = int(fields[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_jiffies / CLK_TCK


def cpu_jiffies() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies over all CPUs of this guest. Busy is
    user+nice+system, which counts the JVM and every Python worker."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system = vals[0], vals[1], vals[2]
    steal = vals[7] if len(vals) > 7 else 0
    return user + nice + system, steal, sum(vals)


class CpuWindow:
    """Busy CPU seconds and steal share between start() and stop()."""

    def __init__(self):
        self.busy_s = 0.0
        self.steal_j = 0
        self.total_j = 0
        self._t0: tuple[int, int, int] | None = None

    def start(self) -> None:
        self._t0 = cpu_jiffies()

    def stop(self) -> None:
        b1, s1, t1 = cpu_jiffies()
        b0, s0, t0 = self._t0
        self.busy_s += (b1 - b0) / CLK_TCK
        self.steal_j += s1 - s0
        self.total_j += t1 - t0

    @property
    def steal_pct(self) -> float:
        return 100.0 * self.steal_j / self.total_j if self.total_j else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def reset_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)


def start_spark():
    """local[SLOTS] session with the engine's own defaults, pointed at
    checkout-local scratch space instead of /tmp and /dev/shm."""
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_SHM"] = "0"
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ.pop("SPARK_GRAFT_CONF", None)
    from dmp_crawler_spark.session import get_spark

    return get_spark(
        master=f"local[{SLOTS}]",
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then wait for the gateway JVM (and with it the
    Python daemon it forked) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


# ---------------------------------------------------------------- Spark
STAGE_FIELDS = (
    ("spark.tasks", "numCompleteTasks", 1.0),
    ("spark.jvm_cpu_s", "executorCpuTime", 1e-9),  # ns, JVM threads only
    ("spark.run_s", "executorRunTime", 1e-3),  # ms of task slot time
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1.0),
    ("spark.spill_bytes", "diskBytesSpilled", 1.0),
    ("spark.output_bytes", "outputBytes", 1.0),
)


class SparkStats:
    """Deltas from the JVM status store (works with spark.ui.enabled=false).
    Stage and job ids grow monotonically, so a delta is 'ids above the last
    mark'. Skipped stages are not counted."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._last_stage = -1
        self._last_job = -1
        self.cost_s = 0.0  # time spent harvesting: the tracing overhead

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        t0 = time.perf_counter()
        self._drain()
        stages = self._stage_list()
        self._last_stage = max([s.stageId() for s in stages] + [self._last_stage])
        jobs = self._store.jobsList(self.sc._jvm.java.util.ArrayList())
        ids = [jobs.apply(i).jobId() for i in range(jobs.length())]
        self._last_job = max(ids + [self._last_job])
        self.cost_s += time.perf_counter() - t0

    def _stage_list(self) -> list:
        jvm = self.sc._jvm
        seq = self._store.stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.length())]

    def delta(self) -> tuple[dict, list[dict]]:
        """(totals since the last mark, per-stage rows with completion
        time in epoch seconds); advances the mark."""
        t0 = time.perf_counter()
        self._drain()
        rows = []
        for s in self._stage_list():
            if s.stageId() <= self._last_stage or s.status().toString() == "SKIPPED":
                continue
            row = {name: getattr(s, attr)() * scale
                   for name, attr, scale in STAGE_FIELDS}
            done = s.completionTime()
            row["done_at"] = done.get().getTime() / 1e3 if done.isDefined() else None
            rows.append(row)
        jobs = self._store.jobsList(self.sc._jvm.java.util.ArrayList())
        n_jobs = sum(
            1 for i in range(jobs.length()) if jobs.apply(i).jobId() > self._last_job
        )
        totals = {"spark.jobs": float(n_jobs), "spark.stages": float(len(rows))}
        for name, _, _ in STAGE_FIELDS:
            totals[name] = sum(r[name] for r in rows)
        self.cost_s += time.perf_counter() - t0
        self.mark()
        return totals, rows


# ---------------------------------------------------------------- tracing
class CpuSampler:
    """Background /proc/stat sampler (traced runs only) so spans whose
    boundaries are rebuilt after the fact still get busy-CPU deltas."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), cpu_jiffies()[0]))
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def busy_s(self, t0: float, t1: float) -> float:
        """Busy CPU seconds between two wall times, linearly interpolated
        between the neighbouring samples (call after stop())."""
        return (self._at(t1) - self._at(t0)) / CLK_TCK

    def _at(self, t: float) -> float:
        times = [ts for ts, _ in self.samples]
        i = bisect.bisect_left(times, t)
        if i == 0 or i == len(times):
            return float(self.samples[min(i, len(times) - 1)][1])
        (ta, ja), (tb, jb) = self.samples[i - 1], self.samples[i]
        return ja + (jb - ja) * (t - ta) / (tb - ta)


class Tracer:
    """Spans kept in memory, written out once at the end: name, start,
    end (epoch seconds), parent span id, and attached counters."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "attrs": attrs})
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
