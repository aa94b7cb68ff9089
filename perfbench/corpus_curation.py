"""corpus_curation: an LLM-corpus job over ``documents`` in a fresh
process with an empty stage cache.

One pass = the ``query`` leg (batch: record-linkage pair mining, whose
two consumers share one stage-cache key, and multimodal features) and
the ``ingest`` leg (a Structured Streaming drain, which writes a
checkpoint and a sink beside its reads).  Each pass reads its own copy
of the generated tables, so every stage-cache key (they embed the data
directory) starts empty.  Each query's result is
collected to the driver (``toPandas``) inside the timed pass and checked
against its DuckDB oracle afterwards.
"""

from __future__ import annotations

import os
import shutil
import time

import datagen
from oracle import connect_tables, same_frame

SCALE = 0.01

#: batch leg, in run order; comments name the stage-cache key shared
BATCH = [
    "linkage_one_to_one",         # builds linkage_scored_pairs
    "linkage_quality_gate",       # reuses linkage_scored_pairs
    "multimodal_features",        # pandas UDF: needs the package on workers
]
#: streaming leg: a bounded drain (checkpoint + sink)
STREAMING = [
    "structured_streaming_availablenow",
]


class Workload:
    #: leg times are medians over the passes, as for taxi_etl
    MIN_PASSES = 2
    LEG_NAMES = {"ingest": "ingest_s", "query": "curation_s"}

    def __init__(self, h):
        self.h = h
        self.data = os.path.join(h.scratch, "data")
        self.last_dir = ""
        self.pass_events: list[list[tuple[str, str]]] = []
        self.times: dict[str, list[float]] = {}
        self.results: dict = {}
        self.warmup_keys: set[str] = set()

    def generate(self) -> None:
        self.h.info["rows"] = datagen.write_corpus_tables(self.data, self.h.seed, SCALE)

    def warm_up(self) -> None:
        self._pass(os.path.join(self.h.scratch, "warmup"), record=False)

    def one_pass(self, n: int) -> None:
        self._pass(os.path.join(self.h.scratch, "passes", f"p{n}"), record=True)

    def _pass(self, sf_dir: str, record: bool) -> None:
        from newyork_taxi_etl_spark import registry
        from newyork_taxi_etl_spark.streaming.windows import _STAGE_CACHE_EVENTS

        h = self.h
        shutil.copytree(self.data, sf_dir)
        queries = registry.queries()
        if record:
            self.results = {}
        first_event = len(_STAGE_CACHE_EVENTS)

        def run(name):
            t0 = time.time()
            with h.attempt(name):
                with h.span("queries", "build"):
                    df = queries[name](h.spark, sf_dir)
                with h.span("queries", "action"):
                    pdf = df.toPandas()
                if record:
                    self.results[name] = pdf
            if record:
                self.times.setdefault(name, []).append(round(time.time() - t0, 3))

        with h.leg("query"):
            for name in BATCH:
                run(name)
        with h.leg("ingest"):
            for name in STREAMING:
                run(name)
        events = list(_STAGE_CACHE_EVENTS[first_event:])
        if record:
            self.pass_events.append(events)
            self.last_dir = sf_dir
        else:
            self.warmup_keys = {k for k, _ in events}

    def stage_cache_events(self):
        return [e for events in self.pass_events for e in events]

    def check(self) -> None:
        """Every key's first event in a pass is a miss (the cache started
        empty); every query matches its DuckDB oracle on the last pass's
        inputs, or else returns the same row count twice."""
        from newyork_taxi_etl_spark import registry

        h = self.h
        for n, events in enumerate(self.pass_events):
            seen = set()
            for key, what in events:
                if key not in seen:
                    seen.add(key)
                    h.check("stage_cache", what == "miss",
                            f"pass {n}: first event of {key} was a {what}")
        timed_keys = {k for events in self.pass_events for k, _ in events}
        h.check("stage_cache", not timed_keys & self.warmup_keys,
                f"warm-up shared keys with the timed passes: {timed_keys & self.warmup_keys}")
        h.info["per_query_s"] = self.times
        h.info["stage_cache_keys_per_pass"] = len({k for k, _ in self.pass_events[-1]})

        oracles = registry.oracle_sql()
        con = connect_tables(self.last_dir)
        for name in BATCH + STREAMING:
            got = self.results.get(name)
            if got is None:
                continue  # raised: already counted as failed
            sql = oracles.get(name)
            if sql is None:
                again = registry.queries()[name](h.spark, self.last_dir).count()
                h.check(name, again == len(got), f"row count {len(got)} then {again}")
                continue
            msg = same_frame(got, con.execute(sql).fetchdf())
            h.check(name, msg is None, msg or "")
        con.close()
