"""Shared pieces of the benchmark: the closed-loop op driver, statistics,
the host-load marker and the Spark session lifetime.

Every workload module builds on these; none of them imports anything from
the repository outside ``cloudfabric_eventsourcing_spark`` and this
directory.
"""

from __future__ import annotations

import dataclasses
import os
import resource
import statistics
import sys
import time
import traceback
from typing import Any, Callable, Optional


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))  # ceil(n * q / 100)
    return float(ordered[int(rank) - 1])


def supported_tail(latencies_ms: list[float]) -> dict:
    """p90 and p99 where at least ten samples lie strictly beyond them,
    each with that count; the sample size is always included."""
    out: dict[str, Any] = {"n": len(latencies_ms)}
    for q in (90, 99):
        if not latencies_ms:
            break
        value = percentile(latencies_ms, q)
        beyond = sum(1 for x in latencies_ms if x > value)
        if beyond < 10:
            break
        out[f"op_p{q}_ms"] = value
        out[f"op_p{q}_beyond"] = beyond
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) process; ru_maxrss is in KiB on
    Linux."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu line: user nice system idle iowait irq
    softirq steal ..."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def cpu_probe() -> tuple[float, float]:
    """(CPU s, wall s) this thread takes for a fixed piece of interpreter
    work that allocates nothing: ~15 ms on an idle core of a quiet host.
    Its wall time grows with steal, its CPU time with how busy the host's
    cores are."""
    c0, t0 = time.thread_time(), time.perf_counter()
    acc = 0
    for _ in range(200):
        for x in range(1000):
            acc = (acc + x * 7) & 0xFFFF
    return time.thread_time() - c0, time.perf_counter() - t0


def host_marker() -> dict:
    """Host-load marker: the 1/5/15-minute loadavg, three samples of a
    fixed-work CPU probe and the cumulative CPU tick counters.  Recorded
    at the start and end of every run so a run taken on a contended host
    can be told apart in its output; never enforced."""
    return {
        "cpu_probe": [cpu_probe() for _ in range(3)],
        "loadavg": list(os.getloadavg()),
        "cpu_ticks": _cpu_ticks(),
    }


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    """Fields 3.. of /proc/<pid>/stat (after the parenthesized name)."""
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


#: thread names of HotSpot's JIT compiler threads (comm is cut to 15 chars)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """CPU time used by this process and its descendants (the Spark JVM
    and its Python workers): each one's process-wide CPU clock (all
    threads, nanosecond resolution) plus the children it has reaped
    (cutime + cstime), minus what the JVM's JIT compiler threads used.

    CPU time does not advance while the hypervisor runs another guest on
    our core, so it leaves out the steal and scheduling delays that wall
    time picks up (it still moves with how busy the host's cores are).
    JIT compilation is left out because it is warm-up of the JVM, not
    work of the op: over a fresh JVM's first eight curate passes it fell
    from about a third of a pass's CPU to a tenth, and with it in, the
    median would depend on how many ops the host's speed let a run fit."""

    #: a scan of /proc takes 1-3 ms, a tenth of an append op, so a new
    #: process is looked for at most this often; one that starts and
    #: spends CPU in between is counted from zero when it is found
    REFRESH_S = 1.0

    def __init__(self):
        self.pids = [os.getpid()]
        self.jit_threads: list[str] = []
        self.refreshed = float("-inf")

    def refresh(self) -> None:
        """Find the current descendants and their JIT compiler threads
        (one scan of /proc)."""
        parent_of: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    parent_of[int(entry)] = int(_stat_fields(int(entry))[1])
                except (OSError, IndexError, ValueError):  # exited meanwhile
                    continue
        root, found = os.getpid(), []
        for pid in parent_of:
            p = pid
            while p > 1 and p != root:
                p = parent_of.get(p, 0)
            if p == root:
                found.append(pid)
        self.pids = found
        jit = []
        for pid in found:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                path = f"/proc/{pid}/task/{tid}"
                try:
                    with open(f"{path}/comm") as fh:
                        if fh.read().strip() in JIT_THREADS:
                            jit.append(f"{path}/schedstat")
                except OSError:
                    continue
        self.jit_threads = jit
        self.refreshed = time.monotonic()

    def sample(self) -> dict:
        out = {}
        for pid in self.pids:
            try:
                reaped = sum(int(x) for x in _stat_fields(pid)[13:15]) * _TICK_S
                out[pid] = time.clock_gettime((~pid << 3) | 2) + reaped
            except (OSError, IndexError, ValueError):
                continue
        for path in self.jit_threads:
            try:
                with open(path) as fh:
                    # first field: time on CPU in ns
                    out[path] = -int(fh.read().split()[0]) / 1e9
            except (OSError, IndexError, ValueError):
                continue
        return out

    @staticmethod
    def used(before: dict, after: dict) -> float:
        """CPU seconds between two samples; a process or thread that
        started in between counts from zero."""
        return sum(v - before.get(key, 0.0) for key, v in after.items())


def steal_share(start: dict, end: dict) -> Optional[float]:
    """Share of CPU time the hypervisor gave to other guests between two
    markers (the `steal` column); None where the kernel does not report
    it."""
    a, b = start.get("cpu_ticks", []), end.get("cpu_ticks", [])
    if len(a) < 8 or len(b) < 8:
        return None
    total = sum(b) - sum(a)
    return (b[7] - a[7]) / total if total > 0 else None


# ---------------------------------------------------------------------------
# closed-loop op driver
# ---------------------------------------------------------------------------

@dataclasses.dataclass
class OpRecord:
    index: int
    phase: str  # "warmup" or "timed"
    latency_s: float
    cpu_s: float
    start_epoch: float
    end_epoch: float
    ok: bool
    error: str = ""
    payload: Any = None


class OpFailure(Exception):
    """An op finished but its outcome is wrong (a correctness mismatch, a
    drain that timed out); counted as a failed op, never a crash."""


class OpLog:
    """One closed-loop client: the next op starts only after the previous
    one has completed."""

    def __init__(self, tracer=None):
        self.records: list[OpRecord] = []
        self.tracer = tracer
        self.timed_wall_s = 0.0
        self.cpu = CpuMeter()

    def _one(self, op: Callable[[int], Any], index: int, phase: str) -> OpRecord:
        if self.tracer is not None:
            self.tracer.op = index
        if not self.records:
            self.cpu.refresh()  # the Spark JVM started after this log
        cpu0 = self.cpu.sample()
        start_epoch = time.time()
        t0 = time.perf_counter()
        try:
            payload = op(index)
            ok, error = True, ""
        except Exception as exc:  # an op's failure is a result, not a crash
            payload, ok = None, False
            error = f"{type(exc).__name__}: {exc}"
            if not isinstance(exc, OpFailure):
                traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0
        if time.monotonic() - self.cpu.refreshed >= CpuMeter.REFRESH_S:
            self.cpu.refresh()
        cpu = CpuMeter.used(cpu0, self.cpu.sample())
        if self.tracer is not None:
            self.tracer.op = None
        rec = OpRecord(index, phase, latency, cpu, start_epoch, time.time(), ok,
                       error, payload)
        self.records.append(rec)
        return rec

    def warmup(self, op: Callable[[int], Any], count: int) -> None:
        for i in range(count):
            self._one(op, -1 - i, "warmup")

    def timed(
        self,
        op: Callable[[int], Any],
        seconds: float,
        between: Optional[Callable[[int], None]] = None,
        cycle: int = 1,
    ) -> None:
        """Run ops until `seconds` have passed and the op count is a whole
        number of `cycle`s (so a mix of op kinds is always sampled in the
        same proportions).  `between(i)` runs before op i inside the timed
        wall, outside the op's latency.  A second call continues the op
        numbering and adds to the timed wall."""
        t0 = time.perf_counter()
        i = first = len(self.timed_records())
        while (i - first) % cycle or time.perf_counter() - t0 < seconds:
            if between is not None:
                between(i)
            self._one(op, i, "timed")
            i += 1
        self.timed_wall_s += time.perf_counter() - t0

    def untimed(self, op: Callable[[int], Any], index: int, phase: str) -> OpRecord:
        """One op that is checked and counted as attempted, but is outside
        the timed phase's latencies and wall."""
        return self._one(op, index, phase)

    def timed_records(self) -> list[OpRecord]:
        return [r for r in self.records if r.phase == "timed"]

    def fail(self, rec: OpRecord, error: str) -> None:
        """Mark an op failed by a check made after the timed phase."""
        if rec.ok:
            rec.ok = False
            rec.error = error

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if not r.ok)

    def latencies_ms(self) -> list[float]:
        return [r.latency_s * 1000.0 for r in self.timed_records()]

    def end_to_end(self) -> dict:
        timed = self.timed_records()
        lat = self.latencies_ms()
        return {
            "ops_per_s": len(timed) / self.timed_wall_s if self.timed_wall_s else 0.0,
            "op_p50_ms": median(lat),
            "op_cpu_p50_ms": median(r.cpu_s * 1000.0 for r in timed),
            "tail": supported_tail(lat),
        }


# ---------------------------------------------------------------------------
# set-up timing
# ---------------------------------------------------------------------------

class SetupClock:
    """Set-up split into named stages, each run once, with the wall time
    and the CPU time (CpuMeter: every process of the run, JIT compiler
    threads left out) each stage took."""

    def __init__(self):
        self.stages: dict[str, float] = {}
        self.cpu_stages: dict[str, float] = {}
        self.cpu = CpuMeter()

    def time(self, stage: str, fn: Callable[[], Any]) -> Any:
        self.cpu.refresh()
        cpu0 = self.cpu.sample()
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        self.cpu.refresh()  # processes the stage started count from zero
        cpu = CpuMeter.used(cpu0, self.cpu.sample())
        self.stages[stage] = self.stages.get(stage, 0.0) + wall
        self.cpu_stages[stage] = self.cpu_stages.get(stage, 0.0) + cpu
        return out

    def total(self) -> float:
        return sum(self.stages.values())

    def cpu_total(self) -> float:
        return sum(self.cpu_stages.values())

    def report(self) -> dict:
        return {"wall_s": dict(self.stages), "cpu_s": dict(self.cpu_stages)}


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------

def cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str, trace: bool):
    """One local[nproc] session for the whole run.  Spark's scratch space
    and the JVM's temp dir live inside the run's work directory; the Spark
    UI (and its REST API, which the traced run reads stage row counts
    from) is on only when tracing."""
    from cloudfabric_eventsourcing_spark.session import build_session

    local_dir = os.path.join(work_dir, "spark-local")
    jvm_tmp = os.path.join(work_dir, "jvm-tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(jvm_tmp, exist_ok=True)
    # C1-only JIT: a run lasts seconds, far less than C2 needs to settle,
    # and with C2 op latencies keep falling through the whole run
    conf = {
        "spark.local.dir": local_dir,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return build_session(
        app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
