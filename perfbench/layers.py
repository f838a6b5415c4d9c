"""Per-layer probes read from outside the engine: Spark's own status
stores (jobs, stages, tasks, SQL metrics) and the process tree's RSS."""

from __future__ import annotations

import os
import re
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while scanning
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":  # an exited child awaiting reaping holds no memory
            kids.setdefault(int(ppid), []).append(int(entry))
    return kids


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids, out, todo = _children_map(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes() -> int:
    total = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process plus every descendant (JVM, Python
    workers), sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark status stores

_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PYTHON_TIME_METRIC = "time to run Python workers"


def parse_duration_s(text: str) -> float:
    """Seconds from a Spark SQL timing metric string, whose total is the
    first duration after the header line."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


class SparkStats:
    """Reads job, stage, task and SQL-metric records for job groups set
    with ``group()``; nothing is read while a pass is being timed."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def group(self, group_id: str) -> None:
        self._sc.setJobGroup(group_id, group_id)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group_id: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group_id))

    def stage_ids(self, job_ids: list[int]) -> list[int]:
        ids = set()
        for j in job_ids:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        return sorted(ids)

    def stage(self, stage_id: int, with_tasks: bool = False) -> dict | None:
        """Summed attempts of one stage; None if it was skipped."""
        attempts = self._store.stageData(stage_id, False, self._no_tasks, False, self._no_quantiles)
        out = None
        for i in range(attempts.size()):
            s = attempts.apply(i)
            if s.numCompleteTasks() + s.numFailedTasks() == 0:
                continue
            if out is None:
                out = {"id": stage_id, "name": s.name(), "tasks": 0, "run_s": 0.0,
                       "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0,
                       "shuffle_read_b": 0, "spill_b": 0, "input_b": 0,
                       "input_records": 0, "output_records": 0, "skew": None,
                       "intervals": []}
            out["tasks"] += s.numTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_b"] += s.shuffleWriteBytes()
            out["shuffle_read_b"] += s.shuffleReadBytes()
            out["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["input_b"] += s.inputBytes()
            out["input_records"] += s.inputRecords()
            out["output_records"] += s.outputRecords()
            if s.numTasks() > 1:
                dist = self._store.taskSummary(stage_id, s.attemptId(), self._quantiles)
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        out["skew"] = max(out["skew"] or 0.0, mx / med)
            if with_tasks:
                tasks = self._store.taskList(stage_id, s.attemptId(), 100_000)
                for t in range(tasks.size()):
                    task = tasks.apply(t)
                    start = task.launchTime().getTime() / 1e3
                    dur = task.duration()
                    end = start + (dur.get() / 1e3 if dur.isDefined() else 0.0)
                    out["intervals"].append((start, end))
        return out

    def sql_watermark(self) -> int:
        return self._sql.executionsCount()

    def python_seconds_by_job(self, watermark: int) -> dict[int, float]:
        """Python-worker run time of every SQL execution started since
        ``watermark``, attributed to the execution's first job."""
        out: dict[int, float] = {}
        count = self._sql.executionsCount()
        if count <= watermark:
            return out
        execs = self._sql.executionsList(watermark, count - watermark)
        for i in range(execs.size()):
            ex = execs.apply(i)
            acc_ids = {m.accumulatorId() for m in _scala_iter(ex.metrics())
                       if m.name() == PYTHON_TIME_METRIC}
            job_ids = sorted(int(j) for j in _scala_iter(ex.jobs().keys()))
            if not acc_ids or not job_ids:
                continue
            total = sum(parse_duration_s(kv._2())
                        for kv in _scala_iter(self._sql.executionMetrics(ex.executionId()))
                        if kv._1() in acc_ids)
            out[job_ids[0]] = out.get(job_ids[0], 0.0) + total
        return out


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def max_overlap(intervals: list[tuple[float, float]]) -> int:
    """Largest number of intervals open at one instant."""
    events = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
                    key=lambda x: (x[0], x[1]))
    best = cur = 0
    for _, step in events:
        cur += step
        best = max(best, cur)
    return best


def stop_descendants(timeout: float) -> list[int]:
    """Wait until every child process has exited; after ``timeout``
    seconds kill the ones left and wait for them.  Returns the pids that
    had to be killed."""
    deadline = time.monotonic() + timeout
    while descendants():
        if time.monotonic() > deadline:
            killed = descendants()
            for pid in killed:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 10
            while descendants() and time.monotonic() < end:
                time.sleep(0.1)
            return killed
        time.sleep(0.1)
    return []
