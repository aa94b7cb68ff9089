"""LSH sizing-knob tests (VERDICT r2 "What's wrong" #5): the sign-bit count
must grow with the corpus so bucket size — the quadratic term — stays fixed."""

from __future__ import annotations

import uuid

from newyork_taxi_etl_spark.operators.similarity import (
    lsh_auto_dims,
    lsh_bucket_expr,
)


def test_bits_grow_with_corpus():
    d = 64
    small = lsh_auto_dims(5_000, d, target_bucket=1024)
    big = lsh_auto_dims(5_000_000, d, target_bucket=1024)
    huge = lsh_auto_dims(5_000_000_000, d, target_bucket=1024)
    assert len(small) < len(big) < len(huge)
    # expected bucket stays ~target: n / 2^bits <= target_bucket
    for n, dims in ((5_000, small), (5_000_000, big), (5_000_000_000, huge)):
        assert n / (2 ** len(dims)) <= 1024


def test_dims_valid_and_deterministic():
    dims = lsh_auto_dims(5_000_000, 64, target_bucket=1024)
    assert dims == lsh_auto_dims(5_000_000, 64, target_bucket=1024)
    assert all(1 <= i <= 64 for i in dims)
    assert len(set(dims)) == len(dims)  # distinct hyperplane dims


def test_bits_bounded_by_dim_and_caps():
    assert len(lsh_auto_dims(10**12, 8, target_bucket=1)) <= 8
    assert len(lsh_auto_dims(10, 64)) >= 2  # min_bits floor
    assert len(lsh_auto_dims(10**15, 2048, target_bucket=1, max_bits=24)) == 24


def test_auto_dims_compose_with_bucket_expr(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [0, 1], "embedding": [[1.0, -1.0] * 32, [-1.0, 1.0] * 32]}
        )
    )
    dims = lsh_auto_dims(2_000_000, 64, target_bucket=1024)
    out = df.select(lsh_bucket_expr("embedding", dims).alias("bucket")).collect()
    assert all(len(r["bucket"]) == len(dims) for r in out)
    assert out[0]["bucket"] != out[1]["bucket"]


def test_blas_bucket_scorer_bit_equals_expression_path(spark):
    """cosine_pairs_lsh_multiband_blas must reproduce the expression
    path's ROUNDED output exactly (ids AND cosines) — the registered
    queries run the BLAS twin against the expression-path oracle, so a
    single differing bit would break the driver gate."""
    from newyork_taxi_etl_spark.operators.similarity import (
        cosine_pairs_lsh_multiband,
        cosine_pairs_lsh_multiband_blas,
    )
    from newyork_taxi_etl_spark.queries.similarity import LSH_BANDS
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    expr_rows = {
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_pairs_lsh_multiband(emb, 0.4, LSH_BANDS).collect()
    }
    blas_rows = {
        (r.id_a, r.id_b, r.cosine)
        for r in cosine_pairs_lsh_multiband_blas(emb, 0.4, LSH_BANDS).collect()
    }
    assert expr_rows == blas_rows
    assert len(expr_rows) > 0  # non-vacuous at smoke SF


def test_incremental_append_equals_from_scratch_rebuild(spark):
    """The lifecycle claim behind ann_index_incremental_append, proven
    directly: probing the appended index returns row-for-row the same
    top-k as a from-scratch rebuild (full corpus assigned in one pass
    under the same persisted quantizer)."""
    from newyork_taxi_etl_spark.registry import queries
    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
        kmeans_centroids,
    )
    from newyork_taxi_etl_spark.operators import similarity as S
    from pyspark.sql import Window, functions as F
    from tests.conftest import SF_SMOKE

    appended = sorted(
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"])
        for r in queries()["ann_index_incremental_append"](
            spark, SF_SMOKE
        ).collect()
    )

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    cent = kmeans_centroids(
        emb.filter((F.col("vec_id") % 4) != 0), k=8, n_iter=1
    )
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    # rebuild: assign the FULL corpus in one pass, no persisted table
    assigned = (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("c_vec"),
            "cid",
        )
    )
    cent_t = cent.select("cid", F.col("vec").alias("cent_vec"))
    d = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        base.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            "_v",
        )
        .crossJoin(F.broadcast(cent_t))
        .select("query_id", "q_vec", "cid", d.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= 2)
        .select("query_id", "q_vec", "cid")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    rebuilt = sorted(
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"])
        for r in (
            assigned.join(F.broadcast(probes), "cid")
            .filter(F.col("cand_id") != F.col("query_id"))
            .select(
                "query_id",
                "cand_id",
                S.cosine_expr("q_vec", "c_vec").alias("cosine"),
            )
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 5)
        ).collect()
    )
    assert appended == rebuilt


def test_gram_power_iteration_approximates_numpy_eigmales(spark):
    """3 power steps on the exact Gram matrix must land close to numpy's
    true top eigenvalue (the iterate is nearly converged at step 3 when
    the spectrum has any gap), and the reported trace must equal the
    exact total variance."""
    import numpy as np

    from newyork_taxi_etl_spark.registry import queries
    from tests.conftest import SF_SMOKE

    row = queries()["gram_power_iteration_pc1"](spark, SF_SMOKE).collect()[0]
    emb = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    gram = emb.T @ emb
    true_top = float(np.linalg.eigvalsh(gram)[-1])
    assert abs(row["trace_total"] - float(np.trace(gram))) < 1e-3
    # never above the true lambda_1 (||Gx|| <= lambda_1 for unit x)
    assert row["lambda_top"] <= true_top + 1e-6
    # equals the SAME 3-step power iteration run in numpy (tolerance for
    # the 12-dp per-step quantization the engines apply)
    x = np.full(64, 0.125)
    for _ in range(3):
        y = gram @ x
        lam = float(np.linalg.norm(y))
        x = y / lam
    assert abs(row["lambda_top"] - lam) < 1e-4, (row["lambda_top"], lam)


def test_gram_subspace_orthogonal_and_bounded_by_numpy(spark):
    """The projected power iteration's 3 components: (a) pairwise
    orthogonality holds BY CONSTRUCTION (reported |v_c . v_(c-1)| at
    1e-12 scale — the quantization residual, not a convergence
    artifact), (b) every lambda estimate sits inside the true spectrum
    [lambda_min, lambda_1] (a projected ||Gx|| can never exceed
    lambda_1), (c) estimates are non-increasing, and (d) each equals
    the SAME projected iteration run in numpy."""
    import numpy as np

    from newyork_taxi_etl_spark.registry import queries
    from tests.conftest import SF_SMOKE

    rows = queries()["gram_subspace_topk"](spark, SF_SMOKE).collect()
    assert [r["pc"] for r in rows] == [1, 2, 3]
    assert rows[0]["ortho_absdot"] == 0.0
    for r in rows[1:]:
        assert abs(r["ortho_absdot"]) < 1e-9, r

    emb = np.array(
        [
            r["embedding"]
            for r in spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    gram = emb.T @ emb
    ev = np.linalg.eigvalsh(gram)
    lams = [r["lambda_est"] for r in rows]
    assert lams == sorted(lams, reverse=True), lams
    for lam in lams:
        assert ev[0] - 1e-6 <= lam <= ev[-1] + 1e-6, (lam, ev[0], ev[-1])

    # same projected iteration in numpy
    finals = []
    np_lams = []
    for _ in range(3):
        x = np.full(64, 0.125)
        for _ in range(3):
            y = gram @ x
            for v in finals:
                y = y - (v @ y) * v
            lam = float(np.linalg.norm(y))
            x = y / lam
        finals.append(x)
        np_lams.append(lam)
    for got, want in zip(lams, np_lams):
        assert abs(got - want) < 1e-4, (lams, np_lams)


def test_streaming_ann_ingest_batching_invariant(spark, tmp_path):
    """The drained index — and therefore the probe — must be identical
    whether the arriving vectors stream as 1 micro-batch or 3: every
    appended vector's cid depends only on the persisted quantizer, so
    batching can only change file layout, never content."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_ann_ingest,
    )
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(SF_SMOKE + "/embeddings.parquet")
    one = run_streaming_ann_ingest(
        spark, emb, str(tmp_path / "one"), n_slices=1,
        cache_key=uuid.uuid4().hex,
    ).collect()
    three = run_streaming_ann_ingest(
        spark, emb, str(tmp_path / "three"), n_slices=3,
        cache_key=uuid.uuid4().hex,
    ).collect()
    assert one == three
    assert len(one) > 0


def test_class_separation_matches_numpy(spark):
    """Fisher ratios from the distributed sufficient statistics must
    equal a direct numpy computation of ||mu_c - mu||^2 and the
    within-class variance to ~1e-6 (decimal quantization tolerance)."""
    import numpy as np

    from newyork_taxi_etl_spark.registry import queries
    from tests.conftest import SF_SMOKE

    rows = {
        r["label"]: r
        for r in queries()["embedding_class_separation"](
            spark, SF_SMOKE
        ).collect()
    }
    data = spark.read.parquet(SF_SMOKE + "/embeddings.parquet").select(
        "label", "embedding"
    ).collect()
    X = np.array([r["embedding"] for r in data], dtype=np.float64)
    y = np.array([r["label"] for r in data])
    mu = X.mean(axis=0)
    for c in np.unique(y):
        xc = X[y == c]
        mu_c = xc.mean(axis=0)
        between = float(((mu_c - mu) ** 2).sum())
        within = float((xc ** 2).sum() / len(xc) - (mu_c ** 2).sum())
        got = rows[int(c)]
        assert abs(got["between_var"] - between) < 1e-5, (c, got, between)
        assert abs(got["within_var"] - within) < 1e-5, (c, got, within)
        assert abs(got["fisher_ratio"] - between / within) < 1e-4
