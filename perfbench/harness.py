"""Measurement plumbing shared by every workload: environment pinning,
the Spark session, the closed-loop op timer, RSS sampling, and the
traced run's spans plus per-job-group Spark counters.

Nothing here reaches inside the engine package: ops are timed around
calls into its public functions, and the traced run reads Spark's own
status store for the job group the benchmark sets around each call.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from py4j.protocol import Py4JJavaError


def cpu_count() -> int:
    """Cores this process may run on — what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


#: A 1g heap (ample at these table sizes), committed and touched when the
#: driver JVM starts, and two malloc arenas keep the JVM's resident size
#: steady from run to run, so peak_rss_mb tracks the memory outside the
#: Java heap rather than the timing of heap growth.
DRIVER_JAVA_OPTIONS = "-Xms1g -XX:+AlwaysPreTouch"


def pin_environment(root: str, run_dir: str) -> dict[str, str]:
    """Point every scratch location of the driver, the JVM and the Python
    workers inside ``run_dir`` and fix the core count, before the JVM
    starts.  Returns the pinned values for the result record."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        # see DRIVER_JAVA_OPTIONS
        "SPARK_GRAFT_DRIVER_MEMORY": "1g",
        "MALLOC_ARENA_MAX": "2",
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(pins)
    return pins


def start_session():
    from pyspark_anomaly_detection_spark.session import get_spark_session

    spark = get_spark_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid  # noqa: SLF001


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants (the JVM and its Python workers)."""
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds consumed so far by ``pids``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total / tick


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_load(before: list[int], after: list[int]) -> dict[str, float]:
    """Shares of all CPU time between two ``host_cpu_ticks`` readings:
    busy (user, system, interrupts) and steal (time the hypervisor gave
    this machine's CPUs to someone else)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "busy_pct": 100.0 * (d[0] + d[1] + d[2] + d[5] + d[6]) / total,
        "steal_pct": 100.0 * d[7] / total,
    }


class RssSampler:
    """Background thread sampling the summed RSS of the JVM process tree;
    ``peak_mb`` is the largest sum seen and ``peak_parts`` the (MB, name)
    of each process at that moment, largest first.  Also remembers every
    pid seen so shutdown can wait for all of them to exit."""

    def __init__(self, pid: int, interval_s: float = 0.2) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: list[tuple[int, str]] = []
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        pids = process_tree(self.pid)
        self.seen.update(pids)
        rss = {p: _rss_bytes(p) for p in pids}
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            self.peak_parts = sorted(
                ((round(r / 1e6), _comm(p)) for p, r in rss.items()), reverse=True
            )

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def stop_session(spark, pids: set[int], timeout_s: float = 60.0) -> None:
    """Stop Spark, close the gateway JVM and wait until the JVM and every
    Python worker it started have exited (killing stragglers)."""
    proc = spark.sparkContext._gateway.proc  # noqa: SLF001
    try:
        spark.stop()
    finally:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=timeout_s)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# --------------------------------------------------------------------------
# ops, spans and Spark counters


@dataclass
class Op:
    """One timed call: ``kind`` is 'read' or 'write'; ``phases`` holds the
    wall seconds of each span below the root (plan, execute, snapshot)."""

    op_id: int
    name: str
    kind: str
    layer: str
    total_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    ok: bool = True
    error: str = ""
    traced: bool = False
    #: share of the machine's CPU time, in %, that the hypervisor gave to
    #: other guests while the op ran
    steal_pct: float = 0.0
    counters: dict[str, dict[str, float]] = field(default_factory=dict)
    extra: dict[str, Any] = field(default_factory=dict)


class Tracer:
    """Spans and job groups for one op at a time.  While ``active`` is
    False every method only records phase wall times, so untraced and
    traced ops time the same code path."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.spans: list[dict[str, Any]] = []
        self._jvm_pid = jvm_pid(spark)
        self._gc_beans = None

    # -- JVM-side counters --------------------------------------------------
    def _gc_s(self) -> float:
        if self._gc_beans is None:
            jvm = self.spark.sparkContext._jvm  # noqa: SLF001
            mf = jvm.java.lang.management.ManagementFactory
            self._gc_beans = list(mf.getGarbageCollectorMXBeans())
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1e3

    def group_counters(self, group: str) -> dict[str, float]:
        """Jobs, tasks, input, shuffle and executor CPU of every job run
        under ``group``, from Spark's status tracker and status store."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "tasks", "input_bytes", "input_records",
             "shuffle_bytes", "cpu_s"),
            0.0,
        )
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            info = sc.statusTracker().getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # stage never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["input_bytes"] += sd.inputBytes()
                out["input_records"] += sd.inputRecords()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["cpu_s"] += sd.executorCpuTime() / 1e9
        return out

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def op(self, op: Op):
        op.traced = self.active
        ticks = host_cpu_ticks()
        t0 = time.perf_counter()
        gc0 = self._gc_s() if self.active else 0.0
        try:
            yield
        except Exception as e:  # noqa: BLE001 - failed ops are counted
            op.ok = False
            op.error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            t1 = time.perf_counter()
            op.total_s = t1 - t0
            op.steal_pct = host_load(ticks, host_cpu_ticks())["steal_pct"]
            if self.active:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                op.extra["gc_s"] = self._gc_s() - gc0
                self.spans.append(
                    {"name": "op", "start": t0, "end": t1, "parent": None,
                     "op_id": op.op_id, "op": op.name}
                )
                for phase in list(op.phases):
                    op.counters[phase] = self.group_counters(
                        f"pb{op.op_id}.{phase}"
                    )

    @contextmanager
    def phase(self, op: Op, name: str):
        """Child span ``name`` of ``op``; Spark jobs started inside it run
        under job group ``pb<op_id>.<name>``."""
        if self.active:
            self.spark.sparkContext.setJobGroup(
                f"pb{op.op_id}.{name}", f"{op.name} {name}"
            )
            # Python-worker CPU is not in Spark's executorCpuTime
            workers = process_tree(self._jvm_pid)[1:]
            py0 = tree_cpu_s(workers)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            op.phases[name] = op.phases.get(name, 0.0) + (t1 - t0)
            if self.active:
                workers = process_tree(self._jvm_pid)[1:]
                op.extra[f"py_cpu_s.{name}"] = max(0.0, tree_cpu_s(workers) - py0)
                self.spans.append(
                    {"name": name, "start": t0, "end": t1, "parent": "op",
                     "op_id": op.op_id}
                )

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# statistics


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def supported_tail(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return int(100 * (1 - 10 / n))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0
