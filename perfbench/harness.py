"""Run structure shared by the workloads: set-up rounds, timed passes,
spans, failure counting, memory, and the metrics."""

from __future__ import annotations

import contextlib
import os
import platform
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

from sparktrace import ProgressLog, Span, SparkBookkeeping, StageTotals, attach_jobs

#: set-up is repeated this many times per run; ``setup_s`` is the median
SETUP_ROUNDS = 3

_MB = 1024.0 * 1024.0


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Harness:
    """One run: the workload calls :meth:`op` for every call into the
    program and :meth:`timed_pass` / :meth:`leg` to delimit its work."""

    def __init__(self, *, seed: int, seconds: float, trace: bool, scratch: str,
                 started: float):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scratch = scratch
        self.started = started
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._pass_no: int | None = None
        self.attempted = 0
        self.failed = 0
        self.executions: Counter[str] = Counter()
        self.problems: list[str] = []
        self.counts: dict[str, list[float]] = defaultdict(list)
        self.info: dict = {}
        self.session_start_s: list[float] = []
        self.setup_rounds_s: list[float] = []
        self.warmup_s = 0.0
        self.peak_rss_mb = 0.0
        self.progress = ProgressLog() if trace else None

    # -- session ---------------------------------------------------------

    def start_session(self):
        """(Re)start the program's session: ``local[cores]`` with one
        shuffle partition per core."""
        from newyork_taxi_etl_spark.session import get_spark

        t0 = time.time()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores)
        self.session_start_s.append(time.time() - t0)
        if self.progress is not None:
            self.progress.install(self.spark)
        return self.spark

    def set_up(self, generate, warm_up) -> None:
        """``SETUP_ROUNDS`` rounds of session start + ``generate()``, each
        rewriting the same inputs, then ``warm_up()`` once.  Round 0 is
        timed from process start, so it alone holds the interpreter start,
        the imports and the JVM boot; later rounds restart the session in
        the same JVM.  ``setup_s`` = median round + warm-up;
        ``cold_start_s`` = round 0."""
        t0 = self.started
        for _ in range(SETUP_ROUNDS):
            self.start_session()
            generate()
            t1 = time.time()
            self.setup_rounds_s.append(t1 - t0)
            t0 = t1
        warm_up()
        self.warmup_s = time.time() - t0

    # -- spans and operations -------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._open[-1].sid if self._open else None
        s = Span(len(self.spans), layer, name, time.time(), parent, self._pass_no)
        self.spans.append(s)
        self._open.append(s)
        sc = self.spark.sparkContext if self.trace else None
        if sc is not None:
            sc.setJobGroup(f"perfbench-span-{s.sid}", f"{layer}.{name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if sc is not None:
                if self._open:
                    sc.setJobGroup(f"perfbench-span-{self._open[-1].sid}",
                                   f"{self._open[-1].layer}.{self._open[-1].name}")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def attempt(self, name: str):
        """One operation.  An exception counts it as failed and is
        swallowed, so the run goes on."""
        self.attempted += 1
        self.executions[name] += 1
        try:
            yield
        except Exception:
            self.failed += 1
            print(f"perfbench: {name} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)

    def op(self, layer: str, name: str, fn, *args):
        """One call into the program, timed as a span of ``layer``; the
        result, or ``None`` when it raised."""
        result = None
        with self.attempt(name), self.span(layer, name):
            result = fn(*args)
        return result

    def wrong(self, name: str, message: str) -> None:
        """A check found ``name``'s output wrong: every execution of it
        counts as failed."""
        self.problems.append(f"{name}: {message}")
        self.failed += max(self.executions[name], 1)
        print(f"perfbench: wrong result: {name}: {message}", file=sys.stderr)

    def check(self, name: str, ok: bool, message: str) -> None:
        if not ok:
            self.wrong(name, message)

    @contextlib.contextmanager
    def timed_pass(self, n: int):
        self._pass_no = n
        try:
            with self.span("bench", "pass"):
                yield
        finally:
            self._pass_no = None

    def leg(self, name: str):
        return self.span("bench", name)

    def run_passes(self, one_pass, min_passes: int) -> int:
        """Call ``one_pass(n)`` inside timed passes until ``seconds`` have
        been measured, and at least ``min_passes`` times.  Returns the
        number of passes."""
        t0 = time.time()
        n = 0
        while n < min_passes or time.time() - t0 < self.seconds:
            with self.timed_pass(n):
                one_pass(n)
            n += 1
        self.peak_rss_mb = self._peak_rss_mb()
        return n

    def _peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus its JVM."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm)

    # -- results ---------------------------------------------------------

    def pass_spans(self, layer: str, name: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.pass_no is not None and s.layer == layer
                and (name is None or s.name == name)]

    def leg_median(self, name: str) -> float:
        return statistics.median(s.seconds for s in self.pass_spans("bench", name))

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": statistics.median(self.setup_rounds_s) + self.warmup_s,
            "cold_start_s": self.setup_rounds_s[0],
            "ingest_s": self.leg_median("ingest"),
            "query_s": self.leg_median("query"),
        }

    def per_layer(self, stage_cache_events=()) -> dict[str, float]:
        """Per-layer metrics of the timed passes, per pass (the ``queries``
        ones per query execution).  Reads Spark's bookkeeping: call only
        at exit of a traced run, before the session stops."""
        book = SparkBookkeeping(self.spark)
        jobs = book.jobs()
        attach_jobs(self.spans, jobs)
        stage_data = book.stages()
        job_stages = {j: st for j, _g, _t, st in jobs}
        passes = self.pass_spans("bench", "pass")
        n = len(passes)
        wall = sum(s.seconds for s in passes)

        def mean_s(layer, name=None):
            return sum(s.seconds for s in self.pass_spans(layer, name)) / n

        timed = [s for s in self.spans if s.pass_no is not None]
        stage_ids = {st for s in timed for j in s.jobs for st in job_stages.get(j, [])}
        tot = StageTotals()
        for st in stage_ids:
            if st in stage_data:
                tot.add(stage_data[st])

        builds = self.pass_spans("queries", "build")
        actions = self.pass_spans("queries", "action")
        n_q = max(len(builds), 1)
        # streaming jobs land on the build span (drains run in the builder)
        build_jobs = sum(len(s.jobs) for s in builds)
        action_jobs = sum(len(s.jobs) for s in actions)
        hits = sum(1 for _k, w in stage_cache_events if w == "hit")
        misses = sum(1 for _k, w in stage_cache_events if w == "miss")

        events = []
        if self.progress is not None:
            self.progress.settle()
            events = [e for e in self.progress.events
                      if any(p.start <= e["t"] <= p.end for p in passes)]

        def ms(key):
            return sum(e["ms"].get(key, 0) for e in events) / n

        m = {
            "peak_rss_mb": self.peak_rss_mb,
            "session.start_s": statistics.median(self.session_start_s),
            "queries.build_s": sum(s.seconds for s in builds) / n_q,
            "queries.action_s": sum(s.seconds for s in actions) / n_q,
            "queries.build_jobs": build_jobs / n_q,
            "queries.jobs": (build_jobs + action_jobs) / n_q,
            "operators.core_busy_frac": tot.task_ms / 1000.0 / (self.cores * wall),
            "operators.stages": tot.stages / n,
            "operators.tasks": tot.tasks / n,
            "operators.task_s": tot.task_ms / 1000.0 / n,
            "operators.task_cpu_s": tot.cpu_ns / 1e9 / n,
            "operators.gc_s": tot.gc_ms / 1000.0 / n,
            "operators.input_mb": tot.input_b / _MB / n,
            "operators.shuffle_read_mb": tot.shuffle_read_b / _MB / n,
            "operators.shuffle_write_mb": tot.shuffle_write_b / _MB / n,
            "operators.spill_mb": tot.spill_b / _MB / n,
            "plans.clean_s": mean_s("plans", "clean"),
            "sources.scan_s": mean_s("sources", "scan"),
            "sources.write_s": mean_s("sources", "write"),
            "sources.zorder_s": mean_s("sources", "zorder"),
            "streaming.cache_hits": hits / n,
            "streaming.cache_misses": misses / n,
            "streaming.cache_hit_frac": hits / (hits + misses) if hits + misses else 0.0,
            "streaming.batches": len(events) / n,
            "streaming.input_rows": sum(e["rows"] for e in events) / n,
            "streaming.add_batch_ms": ms("addBatch"),
            "streaming.commit_ms": ms("walCommit") + ms("commitOffsets"),
            "streaming.planning_ms": ms("queryPlanning"),
        }
        for key in ("plans.rows_kept", "sources.files_written", "sources.output_mb",
                    "sources.files_touched"):
            vals = self.counts.get(key)
            m[key] = statistics.mean(vals) if vals else 0.0
        return m

    def span_table(self) -> dict[str, list]:
        """Spans of the timed passes folded per layer.name: count, total
        seconds, and self seconds (minus child spans)."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.seconds
        table: dict[str, list] = {}
        for s in self.spans:
            if s.pass_no is None:
                continue
            row = table.setdefault(f"{s.layer}.{s.name}", [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s.seconds
            row[2] += s.seconds - child_s[s.sid]
        return {k: [c, round(t, 4), round(x, 4)] for k, (c, t, x) in sorted(table.items())}

    def environment(self) -> dict:
        import pyspark

        return {
            "nproc": self.cores,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "seed": self.seed,
        }
