"""Semantic invariants for round-9 queries the oracle differential can't
see: the DuckDB oracle proves both engines compute the same thing, these
tests pin that the thing computed has the properties the docstrings
claim (monotone ladders, conserved totals, numpy-recomputed robust
statistics, batching invariance of the ingest fold)."""

from __future__ import annotations

import uuid

import numpy as np

from newyork_taxi_etl_spark.registry import queries
from tests.conftest import SF_ORACLE


def test_ks_weekly_drift_baseline_accumulates_and_gate_consistent(spark):
    """The trailing baseline of week i+1 must be exactly baseline(i) +
    week(i) — an off-by-one here silently compares each week against the
    wrong history — and the reject flag must be the stat/critical-value
    comparison it claims (crit = c(0.05) * sqrt((na+nb)/(na*nb)))."""
    rows = sorted(
        queries()["ks_weekly_drift_monitor"](spark, SF_ORACLE).collect(),
        key=lambda r: str(r["week_start"]),
    )
    assert len(rows) >= 3, rows
    for a, b in zip(rows, rows[1:]):
        assert b["n_base"] == a["n_base"] + a["n_week"], (a, b)
    for r in rows:
        assert 0.0 <= r["ks_stat"] <= 1.0, r
        na, nb = r["n_base"], r["n_week"]
        crit = 1.358 * ((na + nb) / (na * nb)) ** 0.5
        assert abs(r["crit_05"] - crit) < 5e-6, (r, crit)
        assert r["reject_05"] == (r["ks_stat"] > r["crit_05"]), r


def test_grouped_mad_outliers_matches_numpy(spark):
    """Full numpy recomputation of the discrete median / MAD / integer
    outlier gate on the same 2-dp ticks — median rank ceil(n/2), MAD as
    the same walk on |v - med|, outliers ad*10000 > 44478*mad."""
    from newyork_taxi_etl_spark.sources.readers import read_events

    rows = {
        r["event_type"]: r
        for r in queries()["grouped_mad_outliers"](
            spark, SF_ORACLE
        ).collect()
    }
    pdf = (
        read_events(spark, SF_ORACLE)
        .filter("value IS NOT NULL")
        .select("event_type", "value")
        .toPandas()
    )
    for etype, grp in pdf.groupby("event_type"):
        v = np.rint(grp["value"].to_numpy() * 100).astype(np.int64)
        v.sort()
        n = len(v)
        med = v[(n + 1) // 2 - 1]  # smallest tick with cum >= ceil(n/2)
        ad = np.abs(v - med)
        ad.sort()
        mad = ad[(n + 1) // 2 - 1]
        n_out = int(np.sum(ad * 10000 > 44478 * mad))
        r = rows[etype]
        assert r["n"] == n, (etype, r)
        assert abs(r["median_value"] - med / 100.0) < 1e-9, (etype, r, med)
        assert abs(r["mad_value"] - mad / 100.0) < 1e-9, (etype, r, mad)
        assert r["n_outliers"] == n_out, (etype, r, n_out)


def test_k_anonymity_ladder_is_monotone_and_chooses_first_gate(spark):
    """Each ladder level unions the previous level's equivalence classes,
    so coarsening can never shrink the smallest class or create MORE
    classes; the published choice must be the FIRST level meeting the
    k>=5 gate (least information loss), and the gate flag must agree
    with the suppression count it is derived from."""
    rows = sorted(
        queries()["k_anonymity_ladder"](spark, SF_ORACLE).collect(),
        key=lambda r: r["level"],
    )
    assert len(rows) >= 3
    for a, b in zip(rows, rows[1:]):
        assert b["n_classes"] <= a["n_classes"], (a, b)
        assert b["min_k"] >= a["min_k"], (a, b)
        assert b["frac_suppressed"] <= a["frac_suppressed"] + 1e-9, (a, b)
    for r in rows:
        assert r["meets_gate"] == (r["rows_suppressed_k5"] == 0), r
    chosen = [r for r in rows if r["chosen"]]
    gates = [r for r in rows if r["meets_gate"]]
    assert len(chosen) == 1, rows
    assert gates and chosen[0]["level"] == gates[0]["level"], rows


def test_langid_confusion_conserves_counts(spark):
    """The confusion summary is a partition of the corpus: actual and
    predicted totals both equal the document count, n_correct can exceed
    neither margin, and P/R/F1 are exactly their count ratios."""
    rows = queries()["langid_confusion"](spark, SF_ORACLE).collect()
    n_docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").count()
    assert sum(r["n_actual"] for r in rows) == n_docs
    assert sum(r["n_predicted"] for r in rows) == n_docs
    for r in rows:
        assert r["n_correct"] <= min(r["n_actual"], r["n_predicted"]), r
        prec = r["n_correct"] / r["n_predicted"] if r["n_predicted"] else 0.0
        rec = r["n_correct"] / r["n_actual"] if r["n_actual"] else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        assert abs(r["precision_c"] - prec) < 1e-6, r
        assert abs(r["recall_c"] - rec) < 1e-6, r
        assert abs(r["f1"] - f1) < 1e-6, r


def test_novel_ngram_growth_conserves_and_saturates(spark):
    """Vocabulary accounting must conserve (cum_vocab == sum of new_ngrams,
    cum_instances == sum of n_instances), novelty can never exceed 1, and
    the Heaps exponent is a single corpus-level constant in (0, 1)."""
    rows = sorted(
        queries()["novel_ngram_growth"](spark, SF_ORACLE).collect(),
        key=lambda r: r["decile"],
    )
    assert len(rows) == 10
    ci = cv = 0
    betas = set()
    for r in rows:
        ci += r["n_instances"]
        cv += r["new_ngrams"]
        assert r["cum_instances"] == ci, r
        assert r["cum_vocab"] == cv, r
        assert r["new_ngrams"] <= r["n_instances"], r
        assert 0.0 <= r["novelty_rate"] <= 1.0, r
        betas.add(r["heaps_beta"])
    assert len(betas) == 1 and 0.0 < rows[0]["heaps_beta"] < 1.0, betas


def test_label_noise_consensus_sample_and_chance_band(spark):
    """Sample contract (fixed-N md5 draw, every query counted once,
    flags bounded by queries) and the no-signal baseline the docstring
    records: on isotropic 10-label embeddings the 3-NN disagreement
    fraction sits near chance (0.9), far from both 0 (label-leaking
    neighbors) and exactly 1 (degenerate always-disagree)."""
    rows = queries()["label_noise_consensus"](spark, SF_ORACLE).collect()
    n_corpus = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").count()
    assert sum(r["n_queries"] for r in rows) == min(512, n_corpus)
    for r in rows:
        assert 0 <= r["n_flagged"] <= r["n_queries"], r
        assert 0.0 <= r["avg_disagree_frac"] <= 1.0, r
    overall = sum(
        r["avg_disagree_frac"] * r["n_queries"] for r in rows
    ) / sum(r["n_queries"] for r in rows)
    assert 0.75 <= overall <= 0.99, overall


def test_logreg_learning_curve_steps_and_gap_identity(spark):
    """The curve is evaluated at the documented step grid, accuracies are
    probabilities, the overfit gap is exactly train - val, and 16 GD
    steps must beat 1 step on the held-out split (the training loop
    actually learns)."""
    rows = sorted(
        queries()["logreg_learning_curve"](spark, SF_ORACLE).collect(),
        key=lambda r: r["step"],
    )
    assert [r["step"] for r in rows] == [1, 2, 4, 8, 16]
    for r in rows:
        assert 0.0 <= r["train_acc"] <= 1.0 and 0.0 <= r["val_acc"] <= 1.0
        assert abs(r["overfit_gap"] - (r["train_acc"] - r["val_acc"])) < 1e-6
    assert rows[-1]["val_acc"] >= rows[0]["val_acc"] + 0.05, rows


def test_streaming_quality_ingest_batching_invariant(spark, tmp_path):
    """The scorer is trained once and persisted; every micro-batch scores
    against the read-back weights, so the drained decision table must be
    identical whether the corpus arrives as 1 slice or 4."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_quality_ingest,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    one = run_streaming_quality_ingest(
        spark, docs, str(tmp_path / "one"), n_slices=1,
        cache_key=uuid.uuid4().hex,
    ).collect()
    four = run_streaming_quality_ingest(
        spark, docs, str(tmp_path / "four"), n_slices=4,
        cache_key=uuid.uuid4().hex,
    ).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, four))
    assert one, "ingest produced no per-lang decisions"


def test_corpus_pipeline_learned_accounting(spark):
    """Per-lang accounting of the learned curation pipeline: drop counts
    are non-negative, survivors + drops never exceed the language's
    corpus slice, and the 512-token packing can never use fewer bins
    than the perfect-packing floor ceil(total_tokens/512)."""
    import math

    rows = queries()["corpus_pipeline_learned"](spark, SF_ORACLE).collect()
    by_lang = {
        r["lang"]: r["cnt"]
        for r in spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .groupBy("lang")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert rows
    for r in rows:
        assert r["n_dropped_contaminated"] >= 0 and r["n_dropped_quality"] >= 0
        assert (
            r["n_docs"] + r["n_dropped_contaminated"] + r["n_dropped_quality"]
            <= by_lang[r["lang"]]
        ), (r, by_lang)
        assert r["n_bins_512"] >= math.ceil(r["total_tokens"] / 512), r


def test_dedup_aware_split_eliminates_cross_leakage(spark):
    """The whole point of the group-aware split: a dup pair can NEVER
    straddle train/test when groups are assigned atomically, while the
    naive per-doc split measurably leaks; both splits still land near
    the 80% target."""
    r = queries()["dedup_aware_split"](spark, SF_ORACLE).collect()[0]
    assert r["aware_cross_pairs"] == 0, r
    assert r["naive_cross_pairs"] > 0, (
        "corpus has %d dup pairs but the naive split leaked none — "
        "either the corpus lost its planted dups or the naive baseline "
        "stopped being naive" % r["n_dup_pairs"]
    )
    assert r["n_groups"] <= r["n_docs"]
    assert r["n_dup_pairs"] >= r["n_docs"] - r["n_groups"], r
    assert 0.7 <= r["aware_train_frac"] <= 0.9, r
    assert 0.7 <= r["naive_train_frac"] <= 0.9, r


def test_boilerplate_strip_accounting(spark):
    """Stripping can only remove what exists: removed tokens bounded by
    the language total, every instance lives in some affected doc, and
    the published fraction is exactly removed/total."""
    rows = queries()["boilerplate_segment_strip"](
        spark, SF_ORACLE
    ).collect()
    assert rows and any(r["n_instances"] > 0 for r in rows), rows
    for r in rows:
        assert 0 <= r["tokens_removed"] <= r["total_tokens"], r
        assert r["docs_affected"] <= r["n_instances"], r
        assert (r["docs_affected"] == 0) == (r["n_instances"] == 0), r
        assert (
            abs(r["frac_removed"] - r["tokens_removed"] / r["total_tokens"])
            < 1e-6
        ), r


def test_semantic_keeper_dominates_minid_baseline(spark):
    """Quality-aware canonical selection must never pick a worse doc than
    the min-id baseline, the gain must be exactly the difference, and
    the changed flag must be the id comparison it claims; clusters are
    real (>= 2 members)."""
    rows = queries()["semantic_dedup_quality_keeper"](
        spark, SF_ORACLE
    ).collect()
    assert rows
    assert any(r["keeper_changed"] for r in rows), (
        "quality selection never disagreed with min-id — the quality "
        "signal is gone"
    )
    for r in rows:
        assert r["n_members"] >= 2, r
        assert r["keeper_quality"] >= r["minid_quality"] - 1e-9, r
        assert (
            abs(
                r["quality_gain"]
                - round(r["keeper_quality"] - r["minid_quality"], 6)
            )
            < 5e-6
        ), r
        assert r["keeper_changed"] == (
            r["keeper_id"] != r["minid_keeper"]
        ), r


def test_source_overlap_matrix_matches_python_recompute(spark):
    """Full Python recomputation of the fingerprint-overlap matrix from
    the raw documents (hashlib md5 over the same lower/trim
    normalization): cross-source shared-fingerprint counts, the
    copy-weighted pair mass sum(n_a*n_b), and the within-source diagonal
    n*(n-1)/2 must all agree row for row."""
    import hashlib
    from collections import Counter

    rows = queries()["source_overlap_matrix"](spark, SF_ORACLE).collect()
    pdf = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "text", "source"
    ).toPandas()
    counts = Counter(
        (
            hashlib.md5(
                t.strip(" ").lower().encode("utf-8")
            ).hexdigest(),
            s,
        )
        for t, s in zip(pdf["text"], pdf["source"])
    )
    by_h = {}
    for (h, s), n in counts.items():
        by_h.setdefault(h, {})[s] = n
    cross = Counter()
    mass = Counter()
    within_fp = Counter()
    within_pairs = Counter()
    for h, srcs in by_h.items():
        ss = sorted(srcs)
        for i, s1 in enumerate(ss):
            if srcs[s1] > 1:
                within_fp[s1] += 1
            within_pairs[s1] += srcs[s1] * (srcs[s1] - 1) // 2
            for s2 in ss[i + 1 :]:
                cross[(s1, s2)] += 1
                mass[(s1, s2)] += srcs[s1] * srcs[s2]
    all_sources = set(pdf["source"])
    got_diag = {r["src_a"] for r in rows if r["src_a"] == r["src_b"]}
    assert got_diag == all_sources
    for r in rows:
        key = (r["src_a"], r["src_b"])
        if r["src_a"] == r["src_b"]:
            assert r["shared_fingerprints"] == within_fp[r["src_a"]], r
            assert r["dup_doc_pairs"] == within_pairs[r["src_a"]], r
        else:
            assert r["src_a"] < r["src_b"], r
            assert r["shared_fingerprints"] == cross[key], r
            assert r["dup_doc_pairs"] == mass[key], r
    # every genuinely-overlapping pair must be present
    got_cross = {
        (r["src_a"], r["src_b"]) for r in rows if r["src_a"] != r["src_b"]
    }
    assert got_cross == set(cross), (got_cross, set(cross))


def test_dedup_embedding_cosine_matches_numpy(spark):
    """Numpy recomputation of the fixed-N exact-cosine baseline: the
    returned pairs are exactly the above-threshold pairs of the md5-order
    sample (with a 4-dp rounding guard band), each reported cosine within
    2e-4 of the numpy double value, ids canonically ordered."""
    import hashlib

    rows = queries()["dedup_embedding_cosine"](spark, SF_ORACLE).collect()
    pdf = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).toPandas()
    order = sorted(
        zip(pdf["vec_id"], pdf["embedding"]),
        key=lambda t: (hashlib.md5(str(t[0]).encode()).hexdigest(), t[0]),
    )[:512]
    ids = np.array([t[0] for t in order])
    m = np.array([np.asarray(t[1], dtype=np.float64) for t in order])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in rows}
    for (a, b), c in got.items():
        assert a < b, (a, b)
    n = len(ids)
    for i in range(n):
        for j in range(i + 1, n):
            key = (min(ids[i], ids[j]), max(ids[i], ids[j]))
            c = sims[i, j]
            if c >= 0.4005:
                assert key in got, (key, c)
            if key in got:
                assert c >= 0.3995, (key, c)
                assert abs(got[key] - c) < 2e-4, (key, got[key], c)


def test_streaming_w1_ingest_batching_invariant(spark, tmp_path):
    """Per-tick counts are additive and the W1 fold is integer-exact, so
    the drained drift monitor must be identical whether the post-cutoff
    events arrive as 1 slice or 4 — and must equal the one-shot batch
    statistic (wasserstein_value_drift) bit-for-bit."""
    from newyork_taxi_etl_spark.registry import queries
    from newyork_taxi_etl_spark.sources.readers import read_events
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_w1_ingest,
    )

    ev = read_events(spark, SF_ORACLE)
    one = run_streaming_w1_ingest(
        spark, ev, str(tmp_path / "one"), n_slices=1,
        cache_key=uuid.uuid4().hex,
    ).collect()
    four = run_streaming_w1_ingest(
        spark, ev, str(tmp_path / "four"), n_slices=4,
        cache_key=uuid.uuid4().hex,
    ).collect()
    batch = queries()["wasserstein_value_drift"](spark, SF_ORACLE).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, four))
    assert sorted(map(tuple, one)) == sorted(map(tuple, batch))
    assert one[0]["n_a"] > 0 and one[0]["n_b"] > 0
