"""Spark counters and process memory for the benchmark.

Counters are read from the AppStatusStore, the store the Spark UI and
REST API serve.  It is kept up to date by a listener that runs on the
listener-bus thread, so every read first drains the bus: a read that
races the bus sees jobs that already finished as missing or running.

Attribution is by job group: the benchmark sets one group per timed
call, so eager jobs a library call runs while it builds its result
frame are counted with the call that ran them.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1 << 20


def drain_listener_bus(spark, timeout_ms: int = 60_000) -> None:
    """Block until every queued listener event has been processed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def set_job_group(spark, group: str | None) -> None:
    """Tag jobs submitted from this thread with ``group`` (None clears)."""
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


@dataclass
class GroupStats:
    """Counters summed over the jobs of one job group.

    Stage counters are summed over the distinct stages those jobs ran;
    a stage another job already computed is skipped, not run, and
    counts neither as a stage nor in any byte or time total.
    """

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    # [submission, completion] of each job, epoch seconds
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def job_time_s(self) -> float:
        """Wall time covered by at least one running job."""
        total, end = 0.0, float("-inf")
        for a, b in sorted(self.intervals):
            if b <= end:
                continue
            total += b - max(a, end)
            end = b
        return total


def group_stats(spark, group: str) -> GroupStats:
    """Counters of every job submitted under ``group`` so far."""
    drain_listener_bus(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    out = GroupStats()
    stage_ids: set[int] = set()
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out.jobs += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out.intervals.append(
                (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
            )
        sids = job.stageIds()
        stage_ids.update(int(sids.apply(i)) for i in range(sids.size()))
    for sid in stage_ids:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: never submitted
            continue
        if s.status().toString() == "SKIPPED":
            continue
        out.stages += 1
        out.tasks += s.numCompleteTasks()
        out.exec_run_s += s.executorRunTime() / 1e3
        out.exec_cpu_s += s.executorCpuTime() / 1e9
        out.gc_s += s.jvmGcTime() / 1e3
        out.shuffle_read_mb += s.shuffleReadBytes() / MB
        out.shuffle_write_mb += s.shuffleWriteBytes() / MB
        out.spill_mb += s.diskBytesSpilled() / MB
        out.input_mb += s.inputBytes() / MB
        out.output_mb += s.outputBytes() / MB
    return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query, in ms.

    Forces physical planning of ``df`` itself (an action on ``df``
    plans a new query on top of it, whose phases are not ``df``'s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p is not None and p.isDefined():
            total += p.get().durationMs()
    return float(total)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name (field 2) may hold spaces: split after it
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_mb(root_pid: int | None = None) -> float:
    """Resident memory of ``root_pid`` and all its descendants, in MB."""
    root_pid = root_pid or os.getpid()
    kids = _children()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class PeakRss:
    """Samples the process tree's resident memory on a thread; ``peak_mb``
    is the largest sum seen while the context was open."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
