"""Cross-table record linkage: planted-corruption quality floors and
resolution semantics beyond cross-engine agreement (the oracle proves
Spark == DuckDB; these tests prove the pipeline actually LINKS)."""

from __future__ import annotations

import random
import uuid

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.operators.linkage import (
    blocked_linkage_pairs,
    derive_perturbed_corpus,
    lsh_linkage_candidates,
    mutual_best_match,
)

from conftest import SF_SMOKE


def _synthetic_corpus(spark, n_docs=60, n_tokens=40, vocab=None, seed=7):
    """Deterministic random-token corpus: long enough docs that a ~20%
    token drop leaves abundant trigram overlap, vocab small enough that
    docs share shingles by chance (non-trivial noise floor)."""
    rng = random.Random(seed)
    vocab = vocab or [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(n_tokens)), "en")
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _quality(matched, b, offset=100_000):
    hits = matched.filter(
        (F.col("b_id") - F.lit(offset)) == F.col("doc_id")
    ).count()
    n_matched = matched.count()
    n_truth = b.count()
    return (
        hits / n_matched if n_matched else 0.0,
        hits / n_truth if n_truth else 0.0,
    )


def test_planted_corruption_precision_recall_floor(spark):
    """The headline claim: on a corpus whose B-side is a perturbed twin
    (every even id, ~20% of tokens dropped), mutual-best resolution over
    blocked Jaccard candidates links with precision >= 0.95 and recall
    >= 0.85 — floors, so a blocking/scoring/resolution regression fails
    even while both engines still agree with each other."""
    a = _synthetic_corpus(spark)
    b = derive_perturbed_corpus(a)
    matched = mutual_best_match(blocked_linkage_pairs(a, b))
    precision, recall = _quality(matched, b)
    assert precision >= 0.95, precision
    assert recall >= 0.85, recall


def test_disjoint_corpora_do_not_link(spark):
    """No-false-positive control: when B shares no vocabulary with A, the
    candidate set (and therefore the match set) is empty — blocking can
    never invent a pair out of thin air."""
    a = _synthetic_corpus(spark, vocab=[f"a{i}" for i in range(20)])
    b = (
        _synthetic_corpus(spark, vocab=[f"b{i}" for i in range(20)], seed=11)
        .select((F.col("doc_id") + F.lit(100_000)).alias("b_id"), "text", "lang")
    )
    assert blocked_linkage_pairs(a, b).count() == 0


def test_linkage_partitioning_invariance(spark):
    """Same match set whatever the physical layout of either input."""
    a = _synthetic_corpus(spark)
    b = derive_perturbed_corpus(a)
    base = sorted(
        (r["doc_id"], r["b_id"])
        for r in mutual_best_match(blocked_linkage_pairs(a, b)).collect()
    )
    for na, nb in ((1, 7), (13, 1)):
        got = sorted(
            (r["doc_id"], r["b_id"])
            for r in mutual_best_match(
                blocked_linkage_pairs(a.repartition(na), b.repartition(nb))
            ).collect()
        )
        assert got == base


def test_mutual_best_match_semantics(spark):
    """Hand-checkable resolution: a pair survives iff rank-1 on BOTH
    sides; ties break by the opposite id (deterministic)."""
    scored = spark.createDataFrame(
        [
            # clean mutual best
            (1, 101, 0.9),
            (1, 102, 0.5),
            (2, 102, 0.8),
            # 3 and 4 both prefer 103; 103 prefers 3 -> only (3,103) links,
            # and 4's second choice 104 does NOT fall through (greedy
            # single-round, not full stable marriage)
            (3, 103, 0.7),
            (4, 103, 0.6),
            (4, 104, 0.3),
            (5, 104, 0.4),
            # exact tie on score: b-side 105 picks the SMALLER doc_id
            (6, 105, 0.5),
            (7, 105, 0.5),
        ],
        "doc_id long, b_id long, jaccard double",
    )
    got = sorted(
        (r["doc_id"], r["b_id"]) for r in mutual_best_match(scored).collect()
    )
    assert got == [(1, 101), (2, 102), (3, 103), (5, 104), (6, 105)]


def test_one_to_one_output_is_injective(spark):
    """Resolution contract on real data: each doc_id and each b_id
    appears at most once in the match set."""
    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    b = derive_perturbed_corpus(docs)
    matched = mutual_best_match(blocked_linkage_pairs(docs, b)).collect()
    lefts = [r["doc_id"] for r in matched]
    rights = [r["b_id"] for r in matched]
    assert len(lefts) == len(set(lefts))
    assert len(rights) == len(set(rights))


def test_lsh_blocking_recall_floor(spark):
    """LSH candidate generation (k=8, r=1) must keep >= 80% of true
    pairs on the planted corpus — the measured side of the
    k-rows-per-doc-vs-recall tradeoff the query documents."""
    a = _synthetic_corpus(spark)
    b = derive_perturbed_corpus(a)
    cand = lsh_linkage_candidates(a, b)
    true_in = cand.filter(
        (F.col("b_id") - F.lit(100_000)) == F.col("doc_id")
    ).count()
    assert true_in >= 0.8 * b.count(), true_in


def test_hot_shingle_cap_bounds_join_mass(spark):
    """Scale guard: a boilerplate prefix shared by EVERY document (the
    f^2 join-mass killer) must be pruned by the union-df cap — candidate
    pairs under a tight cap stay near-linear instead of all-pairs, and
    the true matches still link through their non-boilerplate tails."""
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(25)]
    boiler = " ".join(f"b{i}" for i in range(10))
    rows = [
        (i, boiler + " " + " ".join(rng.choice(vocab) for _ in range(40)), "en")
        for i in range(60)
    ]
    a = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    b = derive_perturbed_corpus(a)
    n_pairs = blocked_linkage_pairs(a, b, max_df_frac=0.5).count()
    # every one of the 60x30 cross-lang pairs shares the boilerplate
    # shingles; with the cap the candidate set must stay well under that
    assert n_pairs < 300, n_pairs
    matched = mutual_best_match(blocked_linkage_pairs(a, b, max_df_frac=0.5))
    precision, recall = _quality(matched, b)
    assert precision >= 0.95, precision
    assert recall >= 0.85, recall


def test_entity_clusters_merge_transitive_matches(spark):
    """A1~B1 and A2~B1 must land in ONE entity with the component-minimum
    canonical id; independent pairs stay separate entities."""
    from newyork_taxi_etl_spark.operators.graph import connected_components
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(1, 100001), (2, 100001), (3, 100003), (100003, 4)],
        "id_a long, id_b long",
    )
    comps = connected_components(edges)
    got = sorted(
        (r["component"], r["node"]) for r in comps.collect()
    )
    by_entity = {}
    for c, n in got:
        by_entity.setdefault(c, set()).add(n)
    assert by_entity == {
        1: {1, 2, 100001},
        3: {3, 4, 100003},
    }


def test_streaming_linkage_is_batching_invariant(spark, tmp_path):
    """The determinism claim behind streaming_linkage_ingest: per-record
    best-A matches depend only on the static index, so 1-batch and
    5-batch drains of the same B corpus produce the identical match
    table."""
    from newyork_taxi_etl_spark.sources.readers import table_path
    from newyork_taxi_etl_spark.streaming import windows as W

    docs = spark.read.parquet(table_path(SF_SMOKE, "documents"))
    b = derive_perturbed_corpus(docs)
    results = []
    for n in (1, 5):
        out = W.run_streaming_linkage_ingest(
            spark, docs, b, str(tmp_path / f"w{n}"), n_slices=n,
            cache_key=uuid.uuid4().hex,
        )
        results.append(
            sorted((r["b_id"], r["doc_id"], r["jaccard"]) for r in out.collect())
        )
    assert results[0] == results[1]
    assert len(results[0]) > 0
