"""Spans around the benchmark's calls into the library's layers.

A span is one timed call into a layer's public functions, run under a
Spark job group of its own, so the status store attributes every job
the call ran to it.  Spans are flat: the workloads open them one after
another, never inside each other.

With tracing off a span only counts the call as an attempted operation.
With tracing on it also times the call, ``pin`` materializes the lazy
frame a call returns inside the call's span (so its jobs are not run
later by the next layer), and ``patch`` times a library function that
another call uses internally.  Counters are read after the traced
iteration ends, outside its timing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.counters import GroupStats, catalyst_ms, group_stats, set_job_group

#: per-span counters, in the order the trace table prints them
SPAN_FIELDS = (
    "wall_s", "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
    "output_mb", "busy_cores", "driver_gap_s", "catalyst_ms",
)

#: spans whose name starts with this are measurement probes: they run
#: only in the traced iteration and are kept out of the workload totals
PROBE = "probe."


@dataclass
class Span:
    name: str
    group: str
    wall_s: float = 0.0
    catalyst_ms: float = 0.0
    stats: GroupStats = field(default_factory=GroupStats)

    def counters(self) -> dict[str, float]:
        s = self.stats
        out = {f: float(getattr(s, f)) for f in SPAN_FIELDS
               if f not in ("wall_s", "busy_cores", "driver_gap_s", "catalyst_ms")}
        out["wall_s"] = self.wall_s
        out["busy_cores"] = s.exec_run_s / self.wall_s if self.wall_s else 0.0
        out["driver_gap_s"] = max(0.0, self.wall_s - s.job_time_s())
        out["catalyst_ms"] = self.catalyst_ms
        return out


class Tracer:
    def __init__(self, spark, enabled: bool, group: str):
        self.spark = spark
        self.enabled = enabled
        self.group = group  # job group of everything outside a span
        self.calls = 0  # library calls attempted, counted in both modes
        self.spans: list[Span] = []
        self.notes: dict[str, float] = {}
        self._current: Span | None = None
        self._pins: list = []
        set_job_group(spark, group)

    @contextmanager
    def span(self, name: str):
        self.calls += 1
        if not self.enabled:
            yield
            return
        span = Span(name, f"{self.group}:{len(self.spans)}:{name}")
        set_job_group(self.spark, span.group)
        self._current = span
        t0 = time.perf_counter()
        try:
            yield
        finally:
            span.wall_s = time.perf_counter() - t0
            set_job_group(self.spark, self.group)
            self._current = None
            self.spans.append(span)

    def pin(self, df, always: bool = False):
        """Materialize ``df`` inside the open span: in traced mode only,
        or in both modes when the workload itself materializes it there
        (``always``).  Pins are released after the iteration."""
        if not (self.enabled or always):
            return df
        if self.enabled:
            self._current.catalyst_ms += catalyst_ms(df)
        df = df.persist()
        df.count()
        self._pins.append(df)
        return df

    @contextmanager
    def patch(self, module, name: str, note: str):
        """Time every call of ``module.name`` into ``notes[note]``."""
        if not self.enabled:
            yield
            return
        original = getattr(module, name)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.note(note, time.perf_counter() - t0)

        setattr(module, name, timed)
        try:
            yield
        finally:
            setattr(module, name, original)

    def note(self, key: str, value: float) -> None:
        self.notes[key] = self.notes.get(key, 0.0) + float(value)

    def close(self) -> None:
        """Release pins and read each span's counters (untimed)."""
        for df in self._pins:
            df.unpersist(blocking=True)
        self._pins.clear()
        set_job_group(self.spark, None)
        for span in self.spans:
            span.stats = group_stats(self.spark, span.group)

    def by_layer(self) -> dict[str, dict[str, float]]:
        """Span counters summed per span name."""
        out: dict[str, dict[str, float]] = {}
        for span in self.spans:
            acc = out.setdefault(span.name, dict.fromkeys(SPAN_FIELDS, 0.0))
            for k, v in span.counters().items():
                acc[k] += v
        for acc in out.values():  # a ratio of sums, not a sum of ratios
            acc["busy_cores"] = acc["exec_run_s"] / acc["wall_s"] if acc["wall_s"] else 0.0
        return out
