"""Outside-in layer trace: spans around the calls the benchmark makes,
annotated with the Spark jobs and stages that opened inside them.

Spans nest run → pass → query → {build, plan, exec}. A span remembers
the newest Spark job id when it opened and when it closed; the jobs in
between are the ones it caused. Jobs come from the application status
store, which lists every job (streaming micro-batch jobs carry a job
group, so ``statusTracker().getJobIdsForGroup(None)`` would miss them).
Job and stage details are fetched when a query span closes, well before
the store's retention limit evicts them.

Streaming progress arrives through a ``StreamingQueryListener`` that the
tracer registers; its events are tagged with the span open at the time.

Everything is kept in memory; ``to_json`` dumps the tree when the run
ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Job:
    id: int
    name: str
    group: str | None
    start_ms: int
    end_ms: int
    stage_ids: list[int]


@dataclass
class Stage:
    id: int
    status: str
    tasks: int
    run_ms: int
    input_rows: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass(eq=False)
class Span:
    name: str
    t0: float
    t1: float = 0.0
    epoch0_ms: float = 0.0
    epoch1_ms: float = 0.0
    job_lo: int = -1  # newest job id when the span opened
    job_hi: int = -1  # newest job id when it closed
    children: list["Span"] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        """Duration minus the part its children cover (children are
        sequential, so their durations add up)."""
        return self.dur - sum(c.dur for c in self.children)

    def job_ids(self) -> range:
        return range(self.job_lo + 1, self.job_hi + 1)

    def find(self, name: str) -> list["Span"]:
        out = [self] if self.name == name else []
        for c in self.children:
            out += c.find(name)
        return out


class Tracer:
    """Records spans. While disabled (the default) it only times them,
    touching neither the status store nor the listener bus."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.root = Span("run", time.perf_counter(), epoch0_ms=time.time() * 1000)
        self._stack = [self.root]
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.progress: list[tuple[Span, dict]] = []
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._listener = _progress_listener(self)

    def set_enabled(self, on: bool) -> None:
        """Start or stop tracing; the streaming listener is registered
        only while tracing, so untraced passes pay nothing for it."""
        if on == self.enabled:
            return
        if on:
            self.spark.streams.addListener(self._listener)
        else:
            self.settle()
            self.spark.streams.removeListener(self._listener)
        self.enabled = on

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1]
        s = Span(name, 0.0, attrs=attrs)
        if self.enabled:
            s.job_lo = self._newest_job()
        s.epoch0_ms = time.time() * 1000
        s.t0 = time.perf_counter()
        parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            s.epoch1_ms = time.time() * 1000
            if self.enabled:
                s.job_hi = self._newest_job()
                if name == "query":
                    # deliver the query's last streaming progress events
                    # while it is still the open query span
                    self.settle()
                    self._fetch(s)
            self._stack.pop()

    def current_query(self) -> Span:
        """Innermost open query span (else the innermost span)."""
        stack = list(self._stack)
        return next((s for s in reversed(stack) if s.name == "query"), stack[-1])

    def close(self) -> None:
        self.set_enabled(False)
        self.root.t1 = time.perf_counter()
        self.root.epoch1_ms = time.time() * 1000

    # ------------------------------------------------------- status store
    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def settle(self) -> None:
        """Wait until the listener bus has delivered every posted event,
        so status-store metrics and streaming progress are complete."""
        self._bus.waitUntilEmpty()

    def _fetch(self, s: Span) -> None:
        for jid in s.job_ids():
            if jid in self.jobs:
                continue
            j = self._store.job(jid)
            sids = j.stageIds()
            g = j.jobGroup()
            done = j.completionTime()
            start = j.submissionTime().get().getTime()
            self.jobs[jid] = Job(
                id=jid,
                name=j.name(),
                group=g.get() if g.isDefined() else None,
                start_ms=start,
                end_ms=done.get().getTime() if done.isDefined() else start,
                stage_ids=[sids.apply(i) for i in range(sids.size())],
            )
            for sid in self.jobs[jid].stage_ids:
                if sid not in self.stages:
                    self.stages[sid] = self._stage(sid)

    def _stage(self, sid: int) -> Stage:
        st = self._store.lastStageAttempt(sid)
        return Stage(
            id=sid,
            status=st.status().toString(),
            tasks=st.numCompleteTasks(),
            run_ms=st.executorRunTime(),
            input_rows=st.inputRecords(),
            shuffle_read_bytes=st.shuffleReadBytes(),
            shuffle_write_bytes=st.shuffleWriteBytes(),
            spill_bytes=st.memoryBytesSpilled() + st.diskBytesSpilled(),
        )

    def span_jobs(self, spans: list[Span]) -> list[Job]:
        return [self.jobs[j] for s in spans for j in s.job_ids() if j in self.jobs]

    def span_stages(self, spans: list[Span]) -> list[Stage]:
        """Distinct stages of the spans' jobs that ran (not skipped)."""
        seen: dict[int, Stage] = {}
        for j in self.span_jobs(spans):
            for sid in j.stage_ids:
                st = self.stages.get(sid)
                if st is not None and st.status != "SKIPPED":
                    seen[sid] = st
        return list(seen.values())

    # ------------------------------------------------------------ output
    def to_json(self) -> dict:
        def dump(s: Span) -> dict:
            return {
                "name": s.name,
                **s.attrs,
                "start_ms": round(s.epoch0_ms, 3),
                "dur_s": round(s.dur, 6),
                "self_s": round(s.self_s, 6),
                "jobs": list(s.job_ids()),
                "stages": sorted(
                    {sid for j in self.span_jobs([s]) for sid in j.stage_ids}
                ),
                "children": [dump(c) for c in s.children],
            }

        return {
            "spans": dump(self.root),
            "jobs": {j.id: vars(j) for j in self.jobs.values()},
            "stages": {s.id: vars(s) for s in self.stages.values()},
            "streaming_progress": [
                {"span": sp.attrs.get("query", sp.name), **p} for sp, p in self.progress
            ],
        }


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            tracer.progress.append(
                (
                    tracer.current_query(),
                    {
                        "run_id": str(p.runId),
                        "batch": p.batchId,
                        "input_rows": p.numInputRows,
                        "trigger_ms": d.get("triggerExecution", 0),
                        "add_batch_ms": d.get("addBatch", 0),
                        "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                    },
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [a, b) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total
