"""Spans around layer calls, with each span's Spark stage metrics.

A span records name, start, end and parent.  Every span also runs its Spark
work under its own job group, so after the span ends the stages it caused
can be read back from the status store (``spark.ui.enabled=false`` keeps the
store; only the web UI is off).  Nothing inside the engine is instrumented:
the spans sit around the public calls the benchmark makes.

Spans are kept in memory; ``layer_metrics`` folds them into per-layer sums.
"""

from __future__ import annotations

import contextlib
import itertools
import time
import uuid
from dataclasses import dataclass, field

# per-layer counters every span carries (Spark ones read from the status store)
SPARK_FIELDS = ("busy_s", "jobs", "tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "output_rows")


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of its interval that its direct
    children cover (children clipped to the parent, overlaps merged)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end))
                             for c in kids.get(s.span_id, [])):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.wall - covered
    return out


class Tracer:
    """Opens nested spans; ``spark=None`` records timing only."""

    def __init__(self, spark=None, clock=time.perf_counter):
        self.spark = spark
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._run = uuid.uuid4().hex[:8]

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(next(self._ids), name, parent, self.clock())
        group = f"perfbench-{self._run}-{s.span_id}"
        self._set_group(group)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self.clock()
            self._set_group(f"perfbench-{self._run}-{parent}"
                            if parent is not None else None)
            self.spans.append(s)
            if self.spark is not None:
                s.counts.update(group_stage_metrics(self.spark, group))

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)


def group_stage_metrics(spark, group: str) -> dict:
    """Sum the metrics of every stage run by jobs of ``group``, list the
    rows each write job produced (``writes``, in submission order), and sum
    the executor run time of the stages that wrote output rows
    (``write_busy_s``: the stages that end in a parquet write).

    Drains the listener bus first, so the status store holds every finished
    job of the span, then looks up only this group's jobs and stages."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_stages = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        ids = store.job(jid).stageIds()
        job_stages.append([int(ids.apply(i)) for i in range(ids.length())])
    out: dict = dict.fromkeys(SPARK_FIELDS + ("write_busy_s",), 0.0)
    out["jobs"] = float(len(job_stages))
    rows: dict[int, int] = {}
    for sid in sorted({sid for ids in job_stages for sid in ids}):
        st = store.lastStageAttempt(sid)
        if st.numCompleteTasks() == 0:
            continue  # skipped stages (shuffle reuse) ran no tasks
        out["busy_s"] += st.executorRunTime() / 1000.0
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["output_rows"] += st.outputRecords()
        rows[sid] = int(st.outputRecords())
        if rows[sid]:
            out["write_busy_s"] += st.executorRunTime() / 1000.0
    # a stage shared by several jobs counts for the first that ran it
    out["writes"] = [float(n) for n in
                     (sum(rows.pop(sid, 0) for sid in ids) for ids in job_stages) if n]
    return out


def layer_metrics(spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Per layer name: wall_s, self_s, core_util and the summed counts of
    all spans of that name."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        m = out.setdefault(s.name, {"wall_s": 0.0, "self_s": 0.0})
        m["wall_s"] += s.wall
        m["self_s"] += selfs[s.span_id]
        for k, v in s.counts.items():
            if k != "writes":
                m[k] = m.get(k, 0.0) + v
    for m in out.values():
        busy = m.get("busy_s", 0.0)
        m["core_util"] = busy / (m["wall_s"] * cores) if m["wall_s"] > 0 else 0.0
    return out
