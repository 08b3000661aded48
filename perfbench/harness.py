"""Measurement plumbing shared by the workloads: spans, Spark status-store
counters, the /proc RSS sampler and the summary statistics.

Nothing here changes what the engine does. Spans are taken around the
benchmark's own calls into each layer; executor counters are read back
from Spark's status store by job group; memory is read from /proc.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans (name, start, end, parent). When ``enabled`` is
    false, ``span`` yields without recording, so the timed run pays
    only a context-manager call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.records)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.records.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.records if r["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for r in self.records if r["name"] == name)


class NoCounters:
    """``JobCounters`` stand-in for the untraced loop: tags nothing."""

    @contextmanager
    def group(self, name: str):
        yield


class JobCounters:
    """Executor counters per job group, read from the status store
    (works with ``spark.ui.enabled=false``). ``group(name)`` tags every
    job the calling thread starts; ``collect(prefix)`` sums the jobs and
    stages of every group starting with ``prefix``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, prefixes: tuple[str, ...]) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        stage_ids: set[int] = set()
        jobs = tasks = failed = 0
        job_list = store.jobsList(None)  # a Scala Seq: index it through py4j
        for i in range(job_list.size()):
            jd = job_list.apply(i)
            grp = jd.jobGroup()
            if not grp.isDefined() or not str(grp.get()).startswith(prefixes):
                continue
            jobs += 1
            tasks += jd.numCompletedTasks()
            failed += jd.numFailedTasks()
            ids = jd.stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        run_ms = cpu_ns = shuffle = spill = in_bytes = out_rows = 0
        for sid in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                continue
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            in_bytes += sd.inputBytes()
            out_rows += sd.outputRecords()
        return {
            "jobs": jobs, "tasks": tasks, "failed_tasks": failed,
            "run_s": run_ms / 1e3, "cpu_s": cpu_ns / 1e9,
            "shuffle_mb": shuffle / 1e6, "spill_mb": spill / 1e6,
            "input_mb": in_bytes / 1e6, "output_rows": out_rows,
        }


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def reap(pids: list[int], timeout: float = 10.0) -> None:
    """Wait until every process in ``pids`` has ended; kill what is left
    after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _pss_kb(pid: int) -> int:
    """Proportional set size: a page shared by N processes counts 1/N to
    each, so Python workers forked from one daemon are not counted once
    per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def tree_mem_mb(root_pid: int) -> tuple[float, float, int]:
    """(memory of ``root_pid`` and the Python processes below it, of
    ``root_pid`` alone, number of processes counted), in MB of PSS: the
    JVM and its Python workers. Other descendants are skipped: a child
    the JVM spawns shares the JVM's address space until it execs, and
    would count the JVM twice."""
    kids = _children()
    root = _pss_kb(root_pid)
    total, todo, n = root, list(kids.get(root_pid, ())), 1
    while todo:
        pid = todo.pop()
        if _is_python(pid):
            total += _pss_kb(pid)
            n += 1
        todo.extend(kids.get(pid, ()))
    return total / 1024, root / 1024, n


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])  # utime stime cutime cstime


class CpuClock:
    """CPU seconds used by ``root_pid`` (the JVM), every process below
    it (the Python workers; exited ones through their parent's reaped
    counters) and the calling thread (the benchmark's own share of each
    call: result conversion, pandas). Unlike wall time, this does not
    count time the hypervisor gives to other guests."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        kids = _children()
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += _cpu_ticks(pid)
            todo.extend(kids.get(pid, ()))
        return total / self.tick + time.thread_time()


class MemSampler:
    """Samples ``tree_mem_mb(pid)`` every ``interval`` seconds in a
    daemon thread between ``start`` and ``stop``; ``peak`` is the
    largest sample, as (total, root, processes)."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.peak = (0.0, 0.0, 0)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_mem_mb(self.pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float, int]:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak


def host_cpu() -> list[int]:
    """The machine-wide CPU tick counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_shares(before: list[int], after: list[int]) -> tuple[float, float]:
    """(busy, steal) shares of the machine's CPU time between two
    ``host_cpu`` readings. Steal is time the hypervisor gave to other
    guests: a run with high steal was slowed from outside."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return (total - d[3] - d[4] - d[7]) / total, d[7] / total


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(value, percentile) for the highest percentile that still has
    ``beyond`` samples above it, or None with ``beyond`` samples or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return None
    k = n - beyond - 1  # index with exactly `beyond` samples after it
    return xs[k], 100.0 * (k + 1) / n


def trend(values: list[float]) -> float:
    """Least-squares slope of ``values`` against their index, as a share
    of their mean per iteration (0 = flat)."""
    n = len(values)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(values)
    num = sum((i - mx) * (v - my) for i, v in enumerate(values))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den / my if my else 0.0
