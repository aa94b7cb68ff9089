"""The per-process stage cache (newyork_taxi_etl_spark.stagecache): build
once, commit atomically, invalidate on corpus change, and one shared
artifact per key across the batch and streaming paths."""

from __future__ import annotations

import os
import shutil
import uuid

from tests.conftest import SF_SMOKE


def test_stage_cache_build_once_and_atomic(spark, tmp_path):
    """cached_dir: a keyed stage builds exactly once (second call is a
    no-Spark-job hit on the same completed generation), and a half-built
    generation is invisible (no _STAGE_COMPLETE => rebuild)."""
    from newyork_taxi_etl_spark.stagecache import _cache_dir, cached_dir

    calls = []

    def build(target):
        calls.append(target)
        os.makedirs(target, exist_ok=True)
        with open(os.path.join(target, "part-0.parquet"), "w") as f:
            f.write("x")

    # unique per test RUN: the cache root is shared across every test in
    # this PROCESS (r15: scoped per-process, removed at exit), so a
    # stable key could hit a generation built by an earlier test
    key = f"pytest-stage-{uuid.uuid4().hex}"
    d1 = cached_dir(key, build)
    d2 = cached_dir(key, build)
    assert d1 == d2 == _cache_dir(key)
    assert len(calls) == 1
    assert os.path.exists(os.path.join(d1, "_STAGE_COMPLETE"))
    # a generation without the marker is rebuilt, not trusted
    os.remove(os.path.join(d1, "_STAGE_COMPLETE"))
    shutil.rmtree(d1)
    d4 = cached_dir(key, build)
    assert d4 == d1 and len(calls) == 2


def test_stage_cache_invalidates_on_corpus_change(tmp_path):
    """r14 ADVICE (medium): a stage keyed on a source dir must NOT serve
    a stale trained artifact after the parquet under that dir is
    regenerated — the corpus fingerprint (file inventory + sizes +
    mtimes) is folded into the key, so a regeneration lands in a fresh
    cache generation and rebuilds; an untouched corpus still hits."""
    from newyork_taxi_etl_spark.stagecache import (
        _fingerprinted_key,
        cached_dir,
    )

    src = tmp_path / "sfX"
    src.mkdir()
    (src / "documents.parquet").write_text("gen1" * 10)

    calls = []

    def build(target):
        calls.append(target)
        os.makedirs(target, exist_ok=True)
        (tmp_path / "marker").write_text("x")
        with open(os.path.join(target, "out"), "w") as f:
            f.write("x")

    key = f"pytest-fp-{uuid.uuid4().hex}:{src}"
    d1 = cached_dir(key, build)
    d2 = cached_dir(key, build)
    assert d1 == d2 and len(calls) == 1  # untouched corpus: cache hit
    # regenerate the corpus (different size => different fingerprint
    # even under coarse mtime resolution)
    (src / "documents.parquet").write_text("generation-two" * 10)
    d3 = cached_dir(key, build)
    assert len(calls) == 2, "stale stage served after corpus regeneration"
    assert d3 != d1
    # keys with no path segment are unchanged by the fold
    assert _fingerprinted_key("plain-key:stage3") == "plain-key:stage3"


def test_logreg_weights_one_build_for_batch_and_stream(spark, tmp_path):
    """The quality scorer's weights are ONE cached build: trained through
    the batch path, the streaming quality drain with the same key reads
    them back (a hit) instead of training a second copy (a miss)."""
    from newyork_taxi_etl_spark.queries.curation import (
        _logreg_weights_cached,
    )
    from newyork_taxi_etl_spark.stagecache import EVENTS
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_quality_ingest,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    key = f"pytest-qg-{uuid.uuid4().hex}"
    start = len(EVENTS)
    w = _logreg_weights_cached(spark, docs, key)
    assert len(w) == 4
    out = run_streaming_quality_ingest(
        spark, docs, str(tmp_path / "q"), cache_key=key
    ).collect()
    assert out, "ingest produced no per-lang decisions"
    events = [e for k, e in EVENTS[start:] if k == f"{key}:logreg_weights"]
    assert events == ["miss", "hit"]
