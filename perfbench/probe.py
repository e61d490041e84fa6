"""Measurement helpers: host weather, process memory and CPU from /proc,
and per-query Spark counters for the traced pass.

Only the traced pass calls into Spark from here; the untraced timed pass
runs nothing from this module.
"""

from __future__ import annotations

import os
import re
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


# ---------------------------------------------------------------- weather


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def weather(since: "tuple[int, int] | None" = None, window_s: float = 0.5) -> dict:
    """Load average and CPU steal share. The steal share is taken over the
    interval since ``since`` (a ``cpu_jiffies`` reading), or else over a
    fresh ``window_s`` window."""
    if since is None:
        since = cpu_jiffies()
        time.sleep(window_s)
    now = cpu_jiffies()
    d_total = max(now[1] - since[1], 1)
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "steal_pct": round(100.0 * (now[0] - since[0]) / d_total, 2),
        "jiffies": now,
    }


# ---------------------------------------------------------------- processes


def _stat(pid: int) -> "tuple[str, int, int, int] | None":
    """(comm, ppid, cpu ticks incl. reaped children, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    # fields from 3 on: state ppid ... utime(14) stime(15) cutime(16) cstime(17) ... rss(24)
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return comm, ppid, ticks, int(rest[21]) * _PAGE


def descendants(root: int) -> dict[int, tuple[str, int, int]]:
    """{pid: (comm, cpu ticks, rss bytes)} for every descendant of ``root``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    todo = list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        comm, _, ticks, rss = stats[pid]
        out[pid] = (comm, ticks, rss)
        todo.extend(children.get(pid, ()))
    return out


def is_python(comm: str) -> bool:
    return comm.startswith("python")


def python_cpu_s(root: int) -> float:
    """CPU seconds of the Spark Python workers under ``root`` so far,
    including workers already reaped by the PySpark daemon."""
    return sum(t for c, t, _ in descendants(root).values() if is_python(c)) / _TICK


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and its
    Python workers), sampled from /proc by a background thread. The
    process tree is rescanned every ``rescan`` ticks; in between only the
    known processes are read."""

    def __init__(self, root: int, interval_s: float = 0.1, rescan: int = 5):
        self.root = root
        self.interval_s = interval_s
        self.rescan = rescan
        self.peak_total = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread: "threading.Thread | None" = None

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        assert self._thread is not None
        self._thread.join()

    def _run(self) -> None:
        procs: dict[int, str] = {}
        tick = 0
        while True:
            if tick % self.rescan == 0:
                procs = {p: c for p, (c, _, _) in descendants(self.root).items()}
            total = python = 0
            for pid, comm in procs.items():
                st = _stat(pid)
                if st is None:
                    continue
                total += st[3]
                if is_python(comm):
                    python += st[3]
            self.peak_total = max(self.peak_total, total)
            self.peak_python = max(self.peak_python, python)
            tick += 1
            if self._stop.wait(self.interval_s):
                return


# ---------------------------------------------------------------- Spark counters

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}
_SIZE = re.compile(r"([0-9.,]+) (B|KiB|MiB|GiB|TiB)")
_SQL_SIZES = {
    "data sent to Python workers": "python_to_worker_bytes",
    "data returned from Python workers": "python_from_worker_bytes",
}
_SQL_COUNTS = {"number of written files": "written_files"}


def _sql_value(raw: str, size: bool) -> float:
    """Parse a SQL metric string; multi-task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``."""
    line = raw.strip().splitlines()[-1]
    if size:
        m = _SIZE.search(line)
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] if m else 0.0
    return float(line.split()[0].replace(",", ""))


class SparkCounters:
    """Reads one query's jobs, stages and tasks from the status store and
    its Python/write bytes from the SQL status store, by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        beans = self.sc._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(beans.getGarbageCollectorMXBeans())

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def storage(self) -> tuple[int, int]:
        """(bytes, RDDs) held in the block manager by persisted RDDs."""
        infos = list(self.jsc.getRDDStorageInfo())
        return sum(i.memSize() + i.diskSize() for i in infos), len(infos)

    def last_execution_id(self) -> int:
        n = self.sql_store.executionsCount()
        if n == 0:
            return -1
        execs = self.sql_store.executionsList(n - 1, 1)
        return execs.apply(0).executionId() if execs.size() else -1

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished query."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict:
        """Job count and wall seconds, and stage/task sums, for ``group``."""
        out = dict.fromkeys(
            (
                "jobs", "job_s", "stages", "tasks", "run_s", "cpu_s",
                "input_bytes", "input_rows", "scan_tasks", "output_bytes",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "fetch_wait_s",
            ),
            0,
        )
        store = self.jsc.statusStore()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            job = store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["job_s"] += (
                    job.completionTime().get().getTime()
                    - job.submissionTime().get().getTime()
                ) / 1000.0
            for sid in info.stageIds if info is not None else ():
                sd = store.lastStageAttempt(sid)
                done = sd.numCompleteTasks()
                if done == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += done
                out["run_s"] += sd.executorRunTime() / 1000.0
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["input_bytes"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                if sd.inputRecords() > 0:
                    out["scan_tasks"] += done
                out["output_bytes"] += sd.outputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1000.0
        return out

    def sql_metrics(self, after_execution: int) -> dict:
        """Python worker bytes and written files summed over the SQL
        executions newer than ``after_execution``."""
        out = dict.fromkeys(list(_SQL_SIZES.values()) + list(_SQL_COUNTS.values()), 0.0)
        n = self.sql_store.executionsCount()
        first = max(0, n - 64)  # one query starts far fewer SQL executions
        execs = self.sql_store.executionsList(first, n - first)
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() <= after_execution:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            seen = set()
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                name, acc = m.name(), m.accumulatorId()
                if acc in seen or (name not in _SQL_SIZES and name not in _SQL_COUNTS):
                    continue
                seen.add(acc)
                v = values.get(acc)
                if not v.isDefined():
                    continue
                if name in _SQL_SIZES:
                    out[_SQL_SIZES[name]] += _sql_value(v.get(), size=True)
                else:
                    out[_SQL_COUNTS[name]] += _sql_value(v.get(), size=False)
        return out
