"""Per-span Spark work, read from the driver's status store.

A span is a named wall-clock interval around one call into a layer of the
program. Around each span the collector lists the stages the status store
holds and keeps the ones that are new; stage ids only grow, so "new" is
"id above the highest id seen before the span". Works with
``spark.ui.enabled=false``: the status store is fed by the listener bus,
not by the UI.

The arithmetic (``span_metrics``, ``union_ms``) is plain Python over stage
dicts so it can be tested without Spark.
"""

from __future__ import annotations

import time


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def span_metrics(stages: list[dict], start_ms: float, end_ms: float, cores: int) -> dict:
    """Reduce the stages one span started to that span's metrics.

    ``driver_s`` is the span's wall time not covered by any stage between
    its submission and completion: driver-side planning, collects and
    Python work during which no task can run. Skipped stages (reused
    shuffle output or cache) count towards ``planned`` but not ``stages``.
    """
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    wall_s = (end_ms - start_ms) / 1000.0
    busy_ms = union_ms([(s["submitted_ms"], s["completed_ms"]) for s in ran
                        if s["submitted_ms"] is not None and s["completed_ms"] is not None],
                       start_ms, end_ms)
    task_s = sum(s["task_ms"] for s in ran) / 1000.0
    return {
        "wall_s": wall_s,
        "driver_s": max(0.0, wall_s - busy_ms / 1000.0),
        "task_s": task_s,
        "cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
        "core_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
        "spill_bytes": sum(s["spill_bytes"] for s in ran),
        "gc_s": sum(s["gc_ms"] for s in ran) / 1000.0,
        "planned": len(stages),
        "skipped": len(stages) - len(ran),
    }


def _epoch_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class StageLog:
    """Lists stages from a live SparkContext's status store."""

    def __init__(self, spark, high: int | None = None):
        """Stages up to id ``high`` count as seen (default: all so far)."""
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self.high = self._max_id() if high is None else high

    def _list(self):
        # stage events reach the store through the asynchronous listener
        # bus; drain it so the span's last stages are there. The list is
        # sorted by stage id, highest first.
        self._jsc.listenerBus().waitUntilEmpty()
        empty = self._gw.jvm.java.util.ArrayList
        return self._jsc.statusStore().stageList(
            empty(), False, False, self._gw.new_array(self._gw.jvm.double, 0), empty())

    def _max_id(self) -> int:
        seq = self._list()
        return seq.apply(0).stageId() if seq.size() else -1

    def new_stages(self) -> list[dict]:
        """Stages started since the previous call (or since construction)."""
        seq = self._list()
        out = []
        for i in range(seq.size()):  # newest first
            s = seq.apply(i)
            if s.stageId() <= self.high:
                break
            out.append({
                "id": s.stageId(), "status": s.status().toString(),
                "submitted_ms": _epoch_ms(s.submissionTime()),
                "completed_ms": _epoch_ms(s.completionTime()),
                "tasks": s.numTasks(), "task_ms": s.executorRunTime(),
                "cpu_ns": s.executorCpuTime(), "gc_ms": s.jvmGcTime(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        self.high = max([self.high] + [s["id"] for s in out])
        return out


class Tracer:
    """Named spans over one traced job. Spans do not nest: a layer call made
    while another span is open is counted in the open one."""

    def __init__(self, log: StageLog, cores: int):
        self.log = log
        self.cores = cores
        self.spans: dict[str, dict] = {}
        self.counts: dict[str, float] = {}
        self.between: list[dict] = []  # stages started outside every span
        self._open = False

    def wrap(self, name: str, fn, before=None, after=None):
        """``fn`` timed as span ``name``. ``before(*args)`` and
        ``after(result, *args)`` run inside the span (to force a frame the
        program caches) and may return counts."""
        def traced(*args, **kwargs):
            if self._open:
                return fn(*args, **kwargs)
            self.between += self.log.new_stages()
            self._open = True
            start = time.time() * 1000.0
            try:
                if before is not None:
                    self.counts.update(before(*args, **kwargs) or {})
                out = fn(*args, **kwargs)
                if after is not None:
                    self.counts.update(after(out, *args, **kwargs) or {})
            finally:
                end = time.time() * 1000.0
                self._open = False
            self.add(name, self.log.new_stages(), start, end)
            return out
        return traced

    def add(self, name: str, stages: list[dict], start_ms: float, end_ms: float) -> None:
        m = span_metrics(stages, start_ms, end_ms, self.cores)
        prev = self.spans.get(name)
        if prev is not None:  # a layer called twice: sum, then re-derive the ratio
            m = {k: prev[k] + m[k] for k in m}
            m["core_util"] = m["task_s"] / (m["wall_s"] * self.cores) if m["wall_s"] else 0.0
        self.spans[name] = m

    def skipped_ratio(self) -> float:
        """Stages reused from cache or shuffle output over stages planned,
        across every span and the gaps between them."""
        planned = sum(s["planned"] for s in self.spans.values()) + len(self.between)
        skipped = (sum(s["skipped"] for s in self.spans.values())
                   + sum(s["status"] == "SKIPPED" for s in self.between))
        return skipped / planned if planned else 0.0
