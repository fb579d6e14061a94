"""Spans around public engine calls, and Spark's own per-job-group metrics.

Tracing lives in the benchmark, never in the engine: a span is opened around
each call the benchmark makes into the package, and it sets a Spark job
group, so every job the call submits can be read back from Spark's status
store and attributed to that call. With tracing disabled a span is a bare
``yield`` and no job group is set.
"""

from __future__ import annotations

import contextlib
import statistics
import time

# StageData getters summed per job group, and their scale to the unit we report
_STAGE_FIELDS = {
    "exec.task_run_s": ("executorRunTime", 1e-3),
    "exec.task_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
    "exchange.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exchange.shuffle_write_bytes": ("shuffleWriteBytes", 1),
}


class Tracer:
    """Records spans ``(name, start, end, parent, rep)`` in memory."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.rep: int | None = None
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "rep": self.rep,
            "group": f"perfbench-{len(self.spans)}-{name}",
            "start": time.perf_counter(),
            "end": None,
            "extra_groups": [],
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"],
                                    self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ reading
    def rep_spans(self, rep: int) -> list[dict]:
        return [s for s in self.spans if s["rep"] == rep]

    def durations(self, name: str, rep: int | None) -> list[float]:
        """Durations of the spans called ``name`` in repetition ``rep``
        (None: set-up)."""
        return [
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["rep"] == rep
        ]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by the span's children."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans
            if s["parent"] == span["id"]
        )
        return (span["end"] - span["start"]) - _union(kids)

    def coverage(self, span: dict) -> float:
        """Share of ``span`` covered by its children (job-group-attributed)."""
        wall = span["end"] - span["start"]
        return 1.0 - self.self_time(span) / wall if wall > 0 else 0.0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusStore:
    """Per-job-group job, stage and task-metric sums from Spark's status
    store (populated with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def _drain(self) -> None:
        # stage-completed events reach the store asynchronously
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def group_sums(self, groups: list[str]) -> dict[str, float]:
        """jobs, stages and ``_STAGE_FIELDS`` sums over every job submitted
        under any of ``groups``."""
        self._drain()
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = 0
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    jobs += 1
                    stage_ids.update(info.stageIds)
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out["runner.jobs"] = float(jobs)
        out["runner.stages"] = float(len(stage_ids))
        if not stage_ids:
            return out
        jvm = self.sc._jvm
        stages = self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        while it.hasNext():
            st = it.next()
            if st.stageId() in stage_ids:
                for k, (getter, scale) in _STAGE_FIELDS.items():
                    out[k] += getattr(st, getter)() * scale
        return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
