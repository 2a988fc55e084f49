"""Spans around the benchmark's calls into each engine layer.

A span records name, layer, start, end, parent and request id, plus the
Spark work its call caused: each span runs under its own job group
(``setJobGroup``); when it ends, the jobs of that group are looked up in
the status tracker and their stages in the application status store
(``lastStageAttempt``) for tasks, failed tasks, executor run time, JVM GC
time and shuffle bytes. The counters are read as each span ends because
the store keeps only the last ``spark.ui.retainedStages`` stages. Nested
spans each own their jobs; a parent's totals include its children's.

Spans stay in memory; ``dump`` writes them out when the run ends. The
time the tracer itself spends (group switches, waiting for the listener,
store reads) is summed as ``overhead_s``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` is a no-op."""

    def __init__(self, spark, enabled: bool, cores: int):
        self.enabled = enabled
        self.cores = cores
        self.sc = spark.sparkContext if enabled else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_request = 0
        self.overhead_s = 0.0
        self.started = time.perf_counter()

    def new_request(self) -> int:
        self._next_request += 1
        return self._next_request

    @contextmanager
    def span(self, layer: str, name: str, request: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        sp = Span(len(self.spans), name, layer,
                  parent.id if parent else None, request, 0.0, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self._group(sp), name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            sp.counters = self._read_counters(self._group(sp))
            self.overhead_s += time.perf_counter() - sp.end

    @staticmethod
    def _group(sp: Span) -> str:
        return f"perfbench-span-{sp.id}"

    def _read_counters(self, group: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = list(st.getJobIdsForGroup(group))
        # the status listener is asynchronous: wait (bounded) until every
        # job of the group is recorded as ended, so its stages are final
        deadline = time.perf_counter() + 5.0
        infos = []
        while True:
            infos = [st.getJobInfo(j) for j in job_ids]
            if all(i is None or i.status != "RUNNING" for i in infos) \
                    or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        stage_ids = sorted({s for i in infos if i is not None for s in i.stageIds})
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage evicted or never submitted
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out

    # -- aggregation --------------------------------------------------------

    def totals(self, sp: Span) -> dict:
        """Counters of a span including all its descendants."""
        out = dict(sp.counters)
        for child in self.spans:
            if child.parent == sp.id:
                for k, v in self.totals(child).items():
                    out[k] = out.get(k, 0) + v
        return out

    def self_s(self, sp: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.id)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return sp.wall_s - covered

    def overhead_share(self, spans: list[Span]) -> float:
        """(wall - summed task run time / cores) / wall over ``spans``: the
        share of their time the work spent waiting on driver and scheduler."""
        wall = sum(s.wall_s for s in spans)
        run = sum(self.totals(s)["task_run_s"] for s in spans)
        return (wall - run / self.cores) / wall if wall > 0 else 0.0

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")
