"""Session lifetime and the closed measurement loop.

One Python thread submits an op and waits for it to finish before it
submits the next (a closed loop with one client). Every op runs under
its own Spark job group, so the jobs and tasks it caused can be
counted. Warm ops have the same shape as the first op, on other tables
of the same size, so an op whose job or task count falls below the
first op's is marked failed: Spark's CacheManager served it (a "fake"
speed-up, see BENCH/BASELINE.md) instead of computing it.
"""

from __future__ import annotations

import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

CORES = 4
SHUFFLE_PARTITIONS = 4
HEAP_MB = 4096                  # session.py's 16g default exceeds small hosts
# - GCLockerRetryAllocationCount: on the small heap, JNI critical
#   sections (compression codecs) held by the other task threads make
#   G1 give up on a large array after 2 retries and throw
#   OutOfMemoryError with free heap ("Retried waiting for GCLocker too
#   often", seen after 16 pipeline ops in one JVM); wait longer instead.
# - -Xlog: the JVM writes its warnings to stdout by default; send them
#   to stderr so stdout holds only the report and the result line.
JVM_OPTIONS = ["-XX:+UnlockDiagnosticVMOptions",
               "-XX:GCLockerRetryAllocationCount=100",
               "-Xlog:disable", "-Xlog:all=warning:stderr"]


@dataclass
class OpResult:
    wall_s: float
    cpu_s: float        # CPU time of this process, the JVM and its workers
    ok: bool
    jobs: int
    tasks: int
    slowdown: float     # SpeedProbe.slowdown during the op
    note: str = ""

    @property
    def ref_cpu_s(self) -> float:
        """CPU seconds scaled to the reference host's speed."""
        return self.cpu_s / self.slowdown


# CPU seconds of one _kernel() on a quiet 4-core x86-64 VM (Linux 6.18,
# Python 3, numpy), from a 3.6x longer kernel timed there (0.135 s) and
# the two kernels' measured ratio (0.28). A gated CPU time is divided
# by its region's slowdown, the median kernel time during the region
# over REF_KERNEL_S, so it reads as CPU seconds on that quiet host.
REF_KERNEL_S = 0.038
PROBE_PERIOD_S = 0.5


def _kernel() -> float:
    """CPU seconds of a fixed single-threaded computation: a numpy sort
    that does not fit in L2 and an interpreted integer loop."""
    import numpy as np
    t0 = time.thread_time()
    np.sort(np.random.default_rng(0).random(1_000_000))
    s = 0
    for i in range(375_000):
        s += i * i % 7
    return time.thread_time() - t0


def probe_main() -> None:
    """Body of the SpeedProbe process: time _kernel() every
    PROBE_PERIOD_S until stdin closes (at least once), then print the
    samples as one JSON list."""
    import numpy  # noqa: F401  (imported before the region starts)
    print("ready", flush=True)
    samples: list[float] = []
    while True:
        done = select.select([sys.stdin], [], [], PROBE_PERIOD_S)[0]
        if not done or not samples:
            samples.append(_kernel())
        if done:
            break
    print(json.dumps(samples), flush=True)


class SpeedProbe:
    """The host's speed while a timed region runs.

    On a shared host the CPU seconds of the same op moved by up to 80%
    between quiet and busy periods, and the load changes within seconds:
    a kernel timed before and after an op missed what happened during
    it. So while the region runs, a separate process (its CPU time is
    outside ``Session.cpu_s``) times ``_kernel()`` every PROBE_PERIOD_S
    (about 10% of one core); ``slowdown`` is the median sample over
    REF_KERNEL_S. The kernel does not touch semlink, so an engine change
    moves a scaled time as much as the raw one."""

    def __enter__(self) -> "SpeedProbe":
        self.samples: list[float] = []
        self.proc = subprocess.Popen(
            [sys.executable, "-c",
             "from perfbench.harness import probe_main; probe_main()"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        if self.proc.stdout.readline().strip() != "ready":
            self.proc.kill()
            self.proc.wait()
            raise RuntimeError("speed probe failed to start")
        return self

    def __exit__(self, *exc) -> None:
        try:
            self.proc.stdin.close()
            self.samples = json.loads(self.proc.stdout.read())
        finally:
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()

    @property
    def slowdown(self) -> float:
        return statistics.median(self.samples) / REF_KERNEL_S


def host_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """JVM heap: HEAP_MB, but never more than a third of the host. One
    pipeline op fills a 3 GiB heap (VmHWM 3.0 GB)."""
    return max(1024, min(HEAP_MB, int(host_ram_gb() * 1024 / 3)))


@dataclass
class Session:
    """A local[CORES] SparkSession whose temporary files live under
    ``work``."""
    work: str
    event_log: bool = False
    spark: object = None
    jvm_pid: int = 0
    start_s: float = 0.0
    start_cpu_s: float = 0.0

    def start(self) -> "Session":
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SEMLINK_DRIVER_MEM"] = f"{heap_mb()}m"
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": " ".join(
                [f"-Djava.io.tmpdir={tmp}"] + JVM_OPTIONS),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.event_log:
            ev = os.path.join(self.work, "eventlog")
            os.makedirs(ev, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from semlink.session import get_spark
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        self.spark = get_spark("semlink-perfbench", cores=CORES,
                               shuffle_partitions=SHUFFLE_PARTITIONS,
                               extra=extra)
        self.start_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self.start_cpu_s = self.cpu_s() - cpu0
        return self

    def peak_rss_mb(self) -> float:
        """VmHWM of the Spark JVM (one JVM runs every task in local mode)."""
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing")

    def run_op(self, group: str, fn, check, baseline: "OpResult | None" = None
               ) -> OpResult:
        """Run ``fn()`` under job group ``group`` and time it, then run
        ``check(value)`` on its return value after the timed region; it
        returns ``(ok, note)``. An exception, a failed check, or a
        job/task count below ``baseline`` marks the op failed."""
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        sc.setJobGroup(group, group)
        value, note = None, ""
        with SpeedProbe() as probe:
            cpu0 = self.cpu_s()
            t0 = time.perf_counter()
            try:
                value = fn()
            except Exception as e:  # an op that raises is a failed op
                note = f"{type(e).__name__}: {str(e)[:300]}"
            wall = time.perf_counter() - t0
            cpu = self.cpu_s() - cpu0
        ok = not note
        if ok:
            sc.setJobGroup(f"{group}:check", group)
            try:
                ok, note = check(value)
            except Exception as e:
                ok, note = False, f"check: {type(e).__name__}: {str(e)[:300]}"
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs, tasks = self.count_group(group)
        if ok and baseline is not None and (
                jobs < baseline.jobs or tasks < baseline.tasks):
            ok, note = False, (f"served from cache? jobs {jobs} < "
                               f"{baseline.jobs} or tasks {tasks} < "
                               f"{baseline.tasks}")
        return OpResult(wall, cpu, ok, jobs, tasks, probe.slowdown, note)

    def cpu_s(self) -> float:
        """User + system CPU seconds of this Python process, the JVM and
        the JVM's live descendants (the Python workers), plus the CPU
        seconds of the children each of them has reaped. A process that
        exits is counted once, at the live parent that reaps it (the
        JVM, or ``pyspark.daemon`` for its workers). CPU time, unlike
        wall time, does not grow while a shared host withholds the CPU,
        so it is the steadier measure of the work an op costs."""
        t = os.times()
        ticks = (t.user + t.system) * os.sysconf("SC_CLK_TCK")
        if not self.jvm_pid:
            return ticks / os.sysconf("SC_CLK_TCK")
        for pid in [self.jvm_pid] + _descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields after the command: utime=11, stime=12, cutime=13,
            # cstime=14 (0-based)
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return ticks / os.sysconf("SC_CLK_TCK")

    def count_group(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                si = st.getStageInfo(sid)
                tasks += si.numCompletedTasks if si else 0
        return len(jobs), tasks

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers exit."""
        spark = self.spark
        if spark is None:
            return
        sc = spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        kids = _descendants(self.jvm_pid)
        self.spark = None
        try:
            spark.stop()
            gateway.shutdown()
        except Exception as e:  # a dead JVM: the processes still go below
            print(f"perfbench: Spark stop failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        _wait_gone(kids + [self.jvm_pid])


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                deadline = time.monotonic() + timeout
            time.sleep(0.05)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
