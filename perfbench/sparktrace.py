"""Per-layer numbers from Spark's own bookkeeping, for traced runs.

The benchmark records a span around every call it makes into the program
(layer, name, start, end, parent).  In a traced run each span also runs
under its own Spark job group, and at exit this module reads

* the status store's job list (job group, stage ids, submission time),
* the status store's stage data (tasks, task time, CPU, GC, input,
  shuffle and spill bytes),
* the progress events a ``StreamingQueryListener`` collected,

and folds them onto the spans.  Jobs of streaming micro-batches run under
the query's own job group, so jobs whose group is not a span's fall back
to the innermost span whose interval holds their submission time.
Nothing is read from Spark while the timed passes run.
"""

from __future__ import annotations

import bisect
import datetime as dt
import threading
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    start: float
    parent: int | None
    pass_no: int | None
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    stages: int = 0
    tasks: int = 0
    task_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _epoch_s(jdate_option) -> float | None:
    if not jdate_option.isDefined():
        return None
    return jdate_option.get().getTime() / 1000.0


class SparkBookkeeping:
    """Reads jobs and stages from the live status store at exit."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def jobs(self) -> list[tuple[int, str | None, float | None, list[int]]]:
        store = self.sc._jsc.sc().statusStore()
        out = []
        for j in _scala_iter(store.jobsList(None)):
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            stage_ids = [int(s) for s in _scala_iter(j.stageIds())]
            out.append((int(j.jobId()), group, _epoch_s(j.submissionTime()), stage_ids))
        return out

    def stages(self) -> dict[int, StageTotals]:
        store = self.sc._jsc.sc().statusStore()
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        out: dict[int, StageTotals] = {}
        for s in _scala_iter(store.stageList(None, False, False, no_quantiles, None)):
            if str(s.status()) == "SKIPPED":
                continue
            t = out.setdefault(int(s.stageId()), StageTotals())
            t.stages = 1
            t.tasks += int(s.numCompleteTasks()) + int(s.numFailedTasks())
            t.task_ms += int(s.executorRunTime())
            t.cpu_ns += int(s.executorCpuTime())
            t.gc_ms += int(s.jvmGcTime())
            t.input_b += int(s.inputBytes())
            t.shuffle_read_b += int(s.shuffleReadBytes())
            t.shuffle_write_b += int(s.shuffleWriteBytes())
            t.spill_b += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
        return out


def attach_jobs(spans: list[Span], jobs) -> None:
    """Give every job to the span that ran it (see module docstring)."""
    by_group = {f"perfbench-span-{s.sid}": s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    for job_id, group, submitted, _stages in jobs:
        span = by_group.get(group)
        if span is None and submitted is not None:
            i = bisect.bisect_right(starts, submitted) - 1
            # the latest-starting span that covers it is the innermost
            while i >= 0 and not (ordered[i].start <= submitted <= ordered[i].end):
                i -= 1
            span = ordered[i] if i >= 0 else None
        if span is not None:
            span.jobs.append(job_id)


class ProgressLog:
    """Collects streaming progress events (a ``StreamingQueryListener``)."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def install(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                with log._lock:
                    log.events.append({
                        "t": ts.timestamp(),
                        "rows": int(p.numInputRows),
                        "ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def settle(self, quiet_s: float = 1.0, limit_s: float = 10.0) -> None:
        """Wait until no new event has arrived for ``quiet_s``: the
        listener bus delivers progress asynchronously."""
        import time

        deadline = time.monotonic() + limit_s
        last = -1
        while time.monotonic() < deadline:
            with self._lock:
                n = len(self.events)
            if n == last:
                return
            last = n
            time.sleep(quiet_s)
