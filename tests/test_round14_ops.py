"""Round-14 operators: best-fit-decreasing packing, distillation audit."""

from __future__ import annotations

import uuid

import duckdb
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


@pytest.mark.quick
def test_bestfit_packing_planted_assignment(spark, tmp_path):
    """The planted 5-doc domain packs exactly as the hand-run BFD: docs
    of 299/249/199/99/59 tokens (need +1 EOS each) -> bin0 = {299, 199}
    (best-fit reuses the tighter bin), bin1 = {249, 99, 59}."""
    from newyork_taxi_etl_spark import registry

    def words(n):  # text with exactly n whitespace tokens
        return " ".join(["w"] * n)

    rows = [
        (i + 1, "en", "web", words(n))
        for i, n in enumerate([299, 249, 199, 99, 59])
    ]
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = (
        registry.queries()["sequence_pack_bestfit"](spark, str(tmp_path))
        .toPandas()
        .set_index("bin")
    )
    assert got.loc[0, "n_docs"] == 2 and got.loc[0, "bin_tokens"] == 498
    assert got.loc[1, "n_docs"] == 3 and got.loc[1, "bin_tokens"] == 407
    # waste = budget - (tokens + one EOS per doc)
    assert got.loc[0, "waste_frac"] == round((512 - 500) / 512.0, 6)
    assert got.loc[1, "waste_frac"] == round((512 - 410) / 512.0, 6)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = con.execute(
        registry.oracle_sql()["sequence_pack_bestfit"]
    ).fetchdf()
    con.close()
    assert sorted(oracle["bin_tokens"]) == [407, 498]


def test_bestfit_packing_conservation_and_capacity(spark):
    """On the shipped corpus: every doc lands in exactly one bin (token
    and doc counts conserve per source), no multi-doc bin exceeds the
    budget including EOS separators, and any over-budget bin is a
    single oversize doc."""
    from newyork_taxi_etl_spark import registry
    from newyork_taxi_etl_spark.sources.readers import table_path

    import pyspark.sql.functions as F

    got = registry.queries()["sequence_pack_bestfit"](
        spark, SF_SMOKE
    ).toPandas()
    docs = (
        spark.read.parquet(table_path(SF_SMOKE, "documents"))
        .select(
            "source", F.size(F.split("text", " ")).alias("n_tok")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
        )
        .toPandas()
        .set_index("source")
    )
    per_src = got.groupby("source")[["n_docs", "bin_tokens"]].sum()
    for src, row in per_src.iterrows():
        assert row["n_docs"] == docs.loc[src, "n_docs"]
        assert row["bin_tokens"] == docs.loc[src, "tokens"]
    consumed = got["bin_tokens"] + got["n_docs"]  # + EOS per doc
    over = got[consumed > 512]
    assert (over["n_docs"] == 1).all(), over
    ok = got[consumed <= 512]
    # waste_frac is 6-dp rounded, so compare at that resolution
    assert (
        (ok["waste_frac"] * 512 - (512 - consumed[ok.index])).abs() < 1e-3
    ).all()


def test_bestfit_shard_group_bound(spark):
    """r14 verdict item 1: the BFD group key is (source, shard) with
    shard = md5(doc_id) % ceil(domain_count / target) — at the
    registered target=16 every shipped 25-doc source splits into
    exactly ceil(25/16)=2 shards, every (source, shard) pandas group
    is strictly smaller than the unsharded domain (the bounded-memory
    guarantee), and doc counts conserve across the split."""
    from newyork_taxi_etl_spark import registry

    got = registry.queries()["sequence_pack_bestfit"](
        spark, SF_SMOKE
    ).toPandas()
    per_group = got.groupby(["source", "shard"])["n_docs"].sum()
    per_source = got.groupby("source")["n_docs"].sum()
    assert (per_source == 25).all()
    shards = got.groupby("source")["shard"].nunique()
    assert (shards == 2).all(), shards
    # hash-balanced: no group holds the whole domain, none exceeds
    # 2x the target even under md5 imbalance on 25 ids
    assert per_group.max() < 25 and per_group.max() <= 32, per_group.max()


def test_bestfit_beats_cumulative_packer_on_planted_fragmentation(
    spark, tmp_path
):
    """A doc-id ordering adversarial to the cumulative packer (big doc
    after the budget boundary fragments its bin) still packs tight
    under BFD: the planted domain needs 3 bins cumulative, 2 best-fit."""
    from newyork_taxi_etl_spark import registry

    def words(n):
        return " ".join(["w"] * n)

    # cumulative (by doc_id): 260 | 260 -> bin0=260, bin1 starts at 260;
    # doc2 260 spans into bin1, doc3 240 pushes a third bin open.
    rows = [
        (1, "en", "web", words(260)),
        (2, "en", "web", words(260)),
        (3, "en", "web", words(240)),
        (4, "en", "web", words(240)),
    ]
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    bf = registry.queries()["sequence_pack_bestfit"](
        spark, str(tmp_path)
    ).toPandas()
    # BFD: 261+241 <= 512 twice -> exactly 2 bins, zero doc splitting
    assert len(bf) == 2
    assert sorted(bf["bin_tokens"]) == [500, 500]


@pytest.mark.quick
def test_distillation_audit_planted_disagreement(spark, tmp_path):
    """Planted corpus: 30 docs pass teacher AND funnel, 20 fail both,
    5 pass the teacher rule but carry a 19-char word (funnel
    max_word_len kill) -> they must land in exactly the (model=1,
    funnel=0) cell; no (0, 1) cell exists."""
    from newyork_taxi_etl_spark import registry

    rows = []
    did = 0
    for i in range(30):  # keep/keep: 40 distinct 3-char words
        did += 1
        text = " ".join(f"w{j:02d}" for j in range(40))
        rows.append((did, "en", "web", text, len(text)))
    for i in range(20):  # drop/drop: 10 repeats of one word, ttr 0.1
        did += 1
        text = " ".join([f"b{i:02d}"] * 10)
        rows.append((did, "en", "web", text, len(text)))
    for i in range(5):  # model keeps, funnel kills on the 19-char word
        did += 1
        text = " ".join(f"w{j:02d}" for j in range(39)) + " " + "x" * 19
        rows.append((did, "en", "web", text, len(text)))
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text", "n_chars"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    got = registry.queries()["quality_distillation_audit"](
        spark, str(tmp_path)
    ).toPandas()
    cells = {
        (r.model_keep, r.funnel_keep): r.n_docs for r in got.itertuples()
    }
    assert cells[(1, 1)] == 30, cells
    assert cells[(1, 0)] == 5, cells
    assert cells[(0, 0)] == 20, cells
    assert (0, 1) not in cells, cells

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = con.execute(
        registry.oracle_sql()["quality_distillation_audit"]
    ).fetchall()
    con.close()
    assert {(r[0], r[1]): r[2] for r in oracle} == cells


def _planted_embeddings(spark, tmp_path, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))


@pytest.mark.quick
def test_semdedup_drops_planted_near_identical_pair(spark, tmp_path):
    """A byte-perturbed embedding copy (cosine ~0.9999) is dropped
    (higher vec_id loses); orthogonal fillers in other directions are
    not. Both engines agree on the planted corpus."""
    import random

    import duckdb

    from newyork_taxi_etl_spark import registry

    rng = random.Random(7)
    rows = []
    # 12 fillers: unit-ish noise vectors (pairwise cosine << 0.97)
    for i in range(12):
        rows.append((i + 1, [rng.uniform(-1, 1) for _ in range(64)], 0))
    base_v = [rng.uniform(-1, 1) for _ in range(64)]
    near = list(base_v)
    near[0] += 0.01  # tiny perturbation: cosine vs base stays >= 0.99
    rows.append((100, base_v, 1))
    rows.append((101, near, 1))
    _planted_embeddings(spark, tmp_path, rows)

    got = registry.queries()["semantic_dedup_kmeans"](
        spark, str(tmp_path)
    ).toPandas()
    assert got["n_dropped"].sum() == 1, got
    assert got["n_dup_pairs"].sum() == 1, got
    assert got["max_cosine"].max() >= 0.99

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    oracle = con.execute(
        registry.oracle_sql()["semantic_dedup_kmeans"]
    ).fetchdf()
    con.close()
    assert oracle["n_dropped"].sum() == 1


def test_prototype_pruning_conservation(spark):
    """On the shipped corpus: exactly n//5 pruned per cluster and the
    distance frontier is consistent (every pruned distance <= every
    kept distance within a cluster)."""
    from newyork_taxi_etl_spark import registry

    got = registry.queries()["prototype_pruning_select"](
        spark, SF_SMOKE
    ).toPandas()
    assert (got["n_pruned"] == got["n_members"] // 5).all()
    both = got.dropna(subset=["max_pruned_dist", "min_kept_dist"])
    assert (both["max_pruned_dist"] <= both["min_kept_dist"]).all()
    assert got["n_members"].sum() == 500  # every vector in exactly 1 cell


@pytest.mark.quick
def test_bloom_gate_no_false_negatives_on_planted_copies(spark, tmp_path):
    """The Bloom guarantee: every exact copy of an earlier doc is
    flagged (its bits were all set by the original). Distinct docs may
    false-positive but never false-negative. Both engines agree."""
    import duckdb

    from newyork_taxi_etl_spark import registry

    rows = [(i + 1, "en", "web", f"unique doc number {i}") for i in range(40)]
    rows.append((100, "en", "web", "unique doc number 3"))   # exact copy
    rows.append((101, "en", "web", "Unique Doc Number 7 "))  # copy modulo norm
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    row = registry.queries()["dedup_bloom_gate"](
        spark, str(tmp_path)
    ).collect()[0]
    assert row.n_true_dup == 2
    assert row.n_flagged >= row.n_true_dup       # no false negatives
    assert row.n_false_pos == row.n_flagged - 2  # ledger is consistent
    assert row.n_bits_set <= 40 * 3              # copies set no new bits

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = con.execute(registry.oracle_sql()["dedup_bloom_gate"]).fetchall()
    con.close()
    assert oracle[0][1] == 2 and oracle[0][2] == row.n_flagged


def test_packing_budget_curve_shape(spark):
    """Token totals conserve across budgets (same corpus, same docs),
    bin count is non-increasing in budget, fill stays in (0, 1] when
    nothing is oversize."""
    from newyork_taxi_etl_spark import registry

    got = (
        registry.queries()["packing_budget_curve"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("budget")
    )
    assert got["total_tokens"].nunique() == 1
    assert (got["n_bins"].diff().dropna() <= 0).all()
    no_over = got[got["n_oversize"] == 0]
    assert ((no_over["fill_frac"] > 0) & (no_over["fill_frac"] <= 1)).all()


def test_streaming_bloom_gate_batch_equality_any_slicing(spark, tmp_path):
    """The drained Bloom ledger equals the batch gate bit-for-bit at 2
    and 5 slices, including on planted copies (the false-negative-free
    guarantee survives the incremental formulation)."""
    from newyork_taxi_etl_spark import registry
    from newyork_taxi_etl_spark.streaming import windows as W

    rows = [(i + 1, "en", "web", f"streaming doc number {i}") for i in range(30)]
    rows.append((50, "en", "web", "streaming doc number 4"))   # copy
    rows.append((51, "en", "web", "Streaming Doc Number 9"))   # copy mod norm
    spark.createDataFrame(
        rows, ["doc_id", "lang", "source", "text"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    batch = registry.queries()["dedup_bloom_gate"](
        spark, str(tmp_path)
    ).collect()[0].asDict()
    for n in (2, 5):
        drained = W.run_streaming_bloom_ingest(
            spark, docs, str(tmp_path / f"w{n}"), n_slices=n,
            cache_key=uuid.uuid4().hex,
        ).collect()[0].asDict()
        assert drained == batch, (n, drained, batch)
    assert batch["n_true_dup"] == 2
    assert batch["n_flagged"] >= 2


def test_kcenter_matches_numpy_greedy_reference(spark):
    """The engine's greedy k-center selection equals an independent
    numpy implementation of Gonzalez's algorithm on the smoke corpus:
    same centers in the same order, same coverage radii, radii
    non-increasing."""
    import numpy as np

    from newyork_taxi_etl_spark import registry
    from newyork_taxi_etl_spark.sources.readers import table_path

    rows = (
        spark.read.parquet(table_path(SF_SMOKE, "embeddings"))
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, x = ids[order], x[order]

    centers = [0]  # index of lowest vec_id after the sort
    expected = []
    for step in range(1, 9):
        d = np.min(
            ((x[:, None, :] - x[centers][None, :, :]) ** 2).sum(axis=2),
            axis=1,
        )
        far = np.lexsort((ids, -d))[0]
        expected.append((step, int(ids[centers[-1]]), float(d[far])))
        centers.append(int(far))

    got = registry.queries()["coreset_kcenter_select"](
        spark, SF_SMOKE
    ).collect()
    assert [r["step"] for r in got] == list(range(1, 9))
    radii = [r["radius"] for r in got]
    assert radii == sorted(radii, reverse=True)
    for r, (step, cid, rad) in zip(got, expected):
        assert r["center_id"] == cid, (r, cid)
        assert abs(r["radius"] - rad) < 1e-6, (r, rad)
