"""In-memory spans around calls into the program, with the Spark jobs
each call ran attached as child spans.

A span is opened by the benchmark around one public call (building a
declared query, planning it, executing it, one ``Server.handle``, one
ad-hoc read). When tracing is on, the span tags its Spark jobs with a
job group of its own (``SparkContext.setJobGroup``); ``resolve`` later
reads those jobs back from the application status store and records
each one as a child span with its submit/complete times and the task
metrics of its stages. Nothing is written until ``dump`` at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator, Optional

#: task metrics summed over a job's executed (not skipped) stages
STAGE_METRICS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    trace: str  # operation id shared by a call and its jobs
    parent: Optional[int]
    start: float  # epoch seconds
    end: float = 0.0
    group: Optional[str] = None  # Spark job group, while unresolved
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""

    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_and_child_time(
    start: float, end: float, children: list[tuple[float, float]]
) -> tuple[float, float]:
    """Split a span into (self time, time covered by its children).

    Children are clipped to the span first, so a job that started a
    moment before its span's clock read (the status store keeps
    milliseconds) never counts for more than the span itself. Self
    time is the part of the span no child covers: for a call into the
    program, the driver-side work done while no Spark job ran.
    """

    clipped = [(max(s, start), min(e, end)) for s, e in children]
    covered = union_length(clipped)
    return max(0.0, (end - start) - covered), covered


class Tracer:
    """Spans of one benchmark run. With ``enabled`` false the spans
    still record walls (the untraced run needs them for its own
    metrics) but no job group is set and no status is read."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, trace: str, **attrs) -> Iterator[Span]:
        sp = Span(len(self.spans), name, trace, None, 0.0, attrs=dict(attrs))
        self.spans.append(sp)
        if self.enabled:
            sp.group = f"perfbench-{sp.id}"
            self._sc.setJobGroup(sp.group, f"{trace} {name}", False)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self.enabled:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    # -- job attribution ---------------------------------------------------

    def resolve(self) -> None:
        """Attach the Spark jobs of every span opened since the last
        call as child spans. Called between operations, outside every
        timed region."""

        pending = [sp for sp in self.spans if sp.group is not None]
        if not pending:
            return
        jsc = self._sc._jsc.sc()
        # Job end events reach the status store through the listener
        # bus; drain it so the last job of the last span is complete.
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        seen_stages: set[int] = set()
        for sp in pending:
            group, sp.group = sp.group, None
            for job_id in sorted(tracker.getJobIdsForGroup(group)):
                self.spans.append(
                    self._job_span(store, sp, job_id, seen_stages)
                )

    def _job_span(self, store, parent: Span, job_id: int, seen: set) -> Span:
        jd = store.job(job_id)
        start = jd.submissionTime().get().getTime() / 1000.0
        done = jd.completionTime()
        end = done.get().getTime() / 1000.0 if done.isDefined() else parent.end
        attrs = {k: 0 for k in STAGE_METRICS}
        attrs.update(job_id=job_id, status=str(jd.status()), stages=0)
        ids = jd.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never run
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            attrs["stages"] += 1
            attrs["tasks"] += sd.numCompleteTasks()
            attrs["executor_run_s"] += sd.executorRunTime() / 1e3
            attrs["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            attrs["gc_s"] += sd.jvmGcTime() / 1e3
            attrs["input_bytes"] += sd.inputBytes()
            attrs["shuffle_read_bytes"] += sd.shuffleReadBytes()
            attrs["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            attrs["spill_bytes"] += sd.diskBytesSpilled()
        return Span(
            len(self.spans), "job", parent.trace, parent.id, start, end,
            attrs=attrs,
        )

    # -- queries over the recorded spans ----------------------------------

    def jobs_of(self, sp: Span) -> list[Span]:
        return [j for j in self.spans if j.parent == sp.id and j.name == "job"]

    def layer(self, spans: list[Span]) -> dict:
        """Sum of one layer's spans: wall, driver (self) time, union of
        job intervals, job count and the stage metrics of their jobs."""

        out = {"s": 0.0, "driver_s": 0.0, "jobs_s": 0.0, "jobs": 0, "stages": 0}
        out.update({k: 0 for k in STAGE_METRICS})
        for sp in spans:
            jobs = self.jobs_of(sp)
            own, covered = self_and_child_time(
                sp.start, sp.end, [(j.start, j.end) for j in jobs]
            )
            out["s"] += sp.wall
            out["driver_s"] += own
            out["jobs_s"] += covered
            out["jobs"] += len(jobs)
            for j in jobs:
                out["stages"] += j.attrs["stages"]
                for k in STAGE_METRICS:
                    out[k] += j.attrs[k]
        return out

    def dump(self, path: str, context: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"context": context, "spans": [asdict(s) for s in self.spans]},
                fh,
            )
