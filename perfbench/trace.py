"""In-memory span recorder for the benchmark's calls into each layer.

A span records its name, start, end, parent and the trace id of the
operation (pass, gate, setup) it belongs to. Spans stay in
memory; ``dump`` writes them out once the run ends.

When ``Tracer.sc`` is set, every span runs its Spark jobs under its
own job group, so after the run the Spark status store yields per-span
deltas (jobs, tasks, input records, shuffle write bytes, executor CPU and
GC time) without polling while the work runs.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

from py4j.protocol import Py4JJavaError

#: status-store counters kept per span
STATUS_FIELDS = ("jobs", "tasks", "input_records", "input_bytes", "output_records",
                 "output_bytes", "shuffle_write_bytes", "cpu_s", "gc_s")


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    trace_id: Optional[str]
    status: Dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: Sequence[Tuple[float, float]]) -> float:
    """Length of the part of ``[start, end]`` covered by ``intervals``
    (overlaps counted once, parts outside the window ignored)."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """span_id -> duration minus the time its direct children cover."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.duration - covered(s.start, s.end, children.get(s.span_id, ()))
            for s in spans}


class Tracer:
    """Records spans when ``enabled``; a disabled tracer's ``span`` is a
    no-op, so untraced passes run the same code path."""

    def __init__(self, enabled: bool = True):
        self.sc = None  # a SparkContext, once the session is up
        self.enabled = enabled
        self.spans: List[Span] = []
        self.trace_id: Optional[str] = None
        self._stack: List[Span] = []
        self._next_id = 0

    def begin(self, name: str) -> Optional[Span]:
        """Open a span as a child of the innermost open one (``None`` when
        disabled). Close it with ``end`` or drop it with ``discard``."""
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next_id, name, 0.0, 0.0,
                  parent.span_id if parent else None, self.trace_id)
        self._next_id += 1
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        return sp

    def end(self, sp: Optional[Span], keep: bool = True) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        if self._stack[-1] is not sp:
            raise RuntimeError(f"span {sp.name!r} is not the innermost open span")
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        if keep:
            self.spans.append(sp)

    def discard(self, sp: Optional[Span]) -> None:
        """Close ``sp`` without recording it; its time counts as its
        parent's self time."""
        self.end(sp, keep=False)

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        sp = self.begin(name)
        try:
            yield
        finally:
            self.end(sp)

    def _set_group(self, sp: Optional[Span]) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"perfbench-span-{sp.span_id}", sp.name)

    def collect_status(self) -> None:
        """Fill ``span.status`` with the span's own jobs' counters (not its
        children's: they ran under their own groups). A stage reused by a
        later job is counted once, in the first job that ran it."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen_stages = set()
        for sp in self.spans:
            st = dict.fromkeys(STATUS_FIELDS, 0.0)
            for job_id in sorted(tracker.getJobIdsForGroup(f"perfbench-span-{sp.span_id}")):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                st["jobs"] += 1
                for stage_id in info.stageIds:
                    if stage_id in seen_stages:
                        continue
                    seen_stages.add(stage_id)
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # stage skipped, never attempted
                        continue
                    st["tasks"] += sd.numCompleteTasks()
                    st["input_records"] += sd.inputRecords()
                    st["input_bytes"] += sd.inputBytes()
                    st["output_records"] += sd.outputRecords()
                    st["output_bytes"] += sd.outputBytes()
                    st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    st["cpu_s"] += sd.executorCpuTime() / 1e9
                    st["gc_s"] += sd.jvmGcTime() / 1e3
            sp.status = st

    def dump(self, path: str) -> None:
        """Write the spans, with self times, as one JSON object per line."""
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "self_s": selfs[sp.span_id]}) + "\n")
