"""Similarity-search queries over ``embeddings`` (north-star surface)."""

from __future__ import annotations

import math as _math

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.functions.exact import avg_exact_sql, dec_out_sql
from newyork_taxi_etl_spark.operators import similarity as S
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import table_path

_COS_SQL = (
    "ROUND(list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 4)"
)

# Multi-band OR-construction LSH config shared by the Spark operators and
# the DuckDB oracles below (and dedup_embedding_lsh in queries/dedup.py):
# 12 bands x 4 sign bits over the 64-dim corpus. Bits per band sized for
# selective buckets (lsh_auto_dims at target_bucket=32 -> 4 bits at n=500);
# band count sized for recall (single band measured 0.14 recall@10 on the
# gate corpus, 12 bands measure 0.86 — see ann_recall_at_k).
LSH_BANDS = S.lsh_multiband_dims(dim=64, n_bands=12, bits=4)


def band_bucket_sql(v: str, dims: tuple[int, ...]) -> str:
    """DuckDB twin of operators.similarity.lsh_bucket_expr (1-based)."""
    cases = ", ".join(
        f"CASE WHEN {v}[{d}] >= 0 THEN '1' ELSE '0' END" for d in dims
    )
    return f"concat({cases})"


def bands_sql(id_alias: str, where: str = "") -> str:
    """UNION ALL of one (id, band_idx, bucket) select per LSH band."""
    return "\n      UNION ALL\n      ".join(
        f"SELECT vec_id AS {id_alias}, {i} AS band_idx, "
        f"{band_bucket_sql('embedding', dims)} AS bucket "
        f"FROM embeddings{where}"
        for i, dims in enumerate(LSH_BANDS)
    )


@register(
    "ann_bruteforce_topk",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    doc="exact cosine top-k (brute force baseline): broadcast 5 query "
    "vectors x corpus, per-query heap via row_number",
)
def ann_bruteforce_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "ann_lsh_bucketed_topk",
    f"""
    WITH qb AS (
      {bands_sql('query_id', ' WHERE vec_id < 5')}
    ),
    cb AS (
      {bands_sql('cand_id')}
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.cand_id
      FROM cb c JOIN qb q USING (band_idx, bucket)
      WHERE c.cand_id <> q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.cand_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM cand JOIN embeddings c ON cand.cand_id = c.vec_id
                JOIN embeddings q ON cand.query_id = q.vec_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="multi-band LSH ANN (12 bands x 4 sign bits, OR-construction): "
    "candidates meet in a hash join on (band_idx, bucket), band hits union "
    "via DISTINCT before scoring, cosine paid once per candidate — the "
    "scale path, with recall driver-gated by ann_recall_at_k (0.86 vs the "
    "single-band 0.14 this replaces)",
)
def ann_lsh_bucketed_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return S.lsh_multiband_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, bands=LSH_BANDS
    )


@register(
    "ann_pandas_topk",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 3
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT cand_id, cosine, query_id, rank FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    doc="Arrow/numpy top-k (mapInPandas + BLAS matmul): same result as the "
    "expression path, exercising the vectorized Python boundary — "
    "value-checked against the SQL oracle",
)
def ann_pandas_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < 3).collect()
    ]
    return S.brute_force_topk_pandas(emb, queries, k=10)


@register(
    "ann_ivf_topk",
    f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cent_vec
      FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    assigned AS (
      SELECT cand_id, c_vec, cid FROM (
        SELECT c.vec_id AS cand_id, c.embedding AS c_vec, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY {_COS_SQL.format(a='c.embedding', b='cent.cent_vec')}
                          DESC, cent.cid) AS r
        FROM embeddings c CROSS JOIN cent
      ) WHERE r = 1
    ),
    probes AS (
      SELECT query_id, q_vec, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL.format(a='q.embedding', b='cent.cent_vec')}
                          DESC, cent.cid) AS r
        FROM embeddings q CROSS JOIN cent
        WHERE q.vec_id < 5
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT p.query_id, a.cand_id,
             {_COS_SQL.format(a='p.q_vec', b='a.c_vec')} AS cosine
      FROM assigned a JOIN probes p USING (cid)
      WHERE a.cand_id <> p.query_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="IVF-style ANN: corpus coarse-quantized into inverted lists "
    "(deterministic centroid stand-in), queries probe the 2 nearest lists "
    "— assignment is one broadcast-join pass, search touches "
    "corpus/n_centroids*n_probe candidates per query",
)
def ann_ivf_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return S.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_centroids=8, n_probe=2
    )


_BF10_SQL = f"""
    bfs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ),
    bf AS (
      SELECT query_id, cand_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, cand_id) AS rank
        FROM bfs
      ) WHERE rank <= 10
    )"""


def _ivf_leg_sql(p: int) -> str:
    return f"""
    ivf_p{p} AS (
      SELECT query_id, cand_id FROM (
        SELECT p.query_id, a.cand_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_COS_SQL.format(a='p.q_vec', b='a.c_vec')}
                          DESC, a.cand_id) AS rank
        FROM assigned a JOIN probes p USING (cid)
        WHERE a.cand_id <> p.query_id AND p.r <= {p}
      ) WHERE rank <= 10
    )"""


def _recall_row_sql(method: str) -> str:
    return f"""
    SELECT '{method}' AS method,
           (SELECT COUNT(*) FROM {method} JOIN bf USING (query_id, cand_id))
             AS hits,
           (SELECT COUNT(*) FROM bf) AS total,
           ROUND(CAST((SELECT COUNT(*) FROM {method}
                       JOIN bf USING (query_id, cand_id)) AS DOUBLE)
                 / (SELECT COUNT(*) FROM bf), 6) AS recall"""


@register(
    "ann_recall_at_k",
    f"""
    WITH {_BF10_SQL},
    qb AS (
      {bands_sql('query_id', ' WHERE vec_id < 5')}
    ),
    cb AS (
      {bands_sql('cand_id')}
    ),
    lcand AS (
      SELECT DISTINCT q.query_id, c.cand_id
      FROM cb c JOIN qb q USING (band_idx, bucket)
      WHERE c.cand_id <> q.query_id
    ),
    lsh AS (
      SELECT query_id, cand_id FROM (
        SELECT lcand.query_id, lcand.cand_id,
               ROW_NUMBER() OVER (PARTITION BY lcand.query_id
                 ORDER BY {_COS_SQL.format(a='q.embedding', b='c.embedding')}
                          DESC, lcand.cand_id) AS rank
        FROM lcand JOIN embeddings c ON lcand.cand_id = c.vec_id
                   JOIN embeddings q ON lcand.query_id = q.vec_id
      ) WHERE rank <= 10
    ),
    cent AS (
      SELECT vec_id AS cid, embedding AS cent_vec
      FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    assigned AS (
      SELECT cand_id, c_vec, cid FROM (
        SELECT c.vec_id AS cand_id, c.embedding AS c_vec, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY {_COS_SQL.format(a='c.embedding', b='cent.cent_vec')}
                          DESC, cent.cid) AS r
        FROM embeddings c CROSS JOIN cent
      ) WHERE r = 1
    ),
    probes AS (
      SELECT query_id, q_vec, cid, r FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, cent.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL.format(a='q.embedding', b='cent.cent_vec')}
                          DESC, cent.cid) AS r
        FROM embeddings q CROSS JOIN cent
        WHERE q.vec_id < 5
      ) WHERE r <= 4
    ),
    {','.join(_ivf_leg_sql(p) for p in (1, 2, 4))}
    {' UNION ALL '.join(_recall_row_sql(m) for m in ('ivf_p1', 'ivf_p2', 'ivf_p4', 'lsh'))}
    ORDER BY method
    """,
    doc="ANN QUALITY gate: recall@10 of the multi-band-LSH path and the "
    "IVF path at n_probe 1/2/4 against the exact brute-force top-10 on the "
    "same 5 queries — candidate sets semi-joined against the exact result, "
    "hit fractions value-checked (deterministic: every top-k tie-breaks by "
    "cand_id in both engines). Both tuned parameters of the ANN stack "
    "(band count x bits for LSH, n_probe for IVF) are regression-gated "
    "numbers here, not claims: the recall-vs-cost curve a 100 TB "
    "deployment reads before sizing an index",
)
def ann_recall_at_k(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") < 5)
    # n_queries*k rows, consumed five times (total + four semi joins):
    # materialize once instead of re-scoring the corpus per consumer
    bf = (
        S.brute_force_topk(emb, qs, k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))

    def leg(df, method):
        hits = (
            df.select("query_id", "cand_id")
            .join(bf, ["query_id", "cand_id"], "semi")
            .agg(F.count(F.lit(1)).alias("hits"))
            .withColumn("method", F.lit(method))
        )
        return hits.crossJoin(total)

    legs = [
        leg(S.ivf_topk(emb, qs, k=10, n_centroids=8, n_probe=p), f"ivf_p{p}")
        for p in (1, 2, 4)
    ]
    legs.append(leg(S.lsh_multiband_topk(emb, qs, k=10, bands=LSH_BANDS), "lsh"))
    out = legs[0]
    for df in legs[1:]:
        out = out.unionAll(df)
    return out.select(
        "method",
        "hits",
        "total",
        F.round(F.col("hits").cast("double") / F.col("total"), 6).alias(
            "recall"
        ),
    ).orderBy("method")


@register(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) / 127 AS scale
      FROM embeddings
    ),
    e AS (
      SELECT ROUND(scale, 6) AS scale_r,
             CASE WHEN scale = 0 THEN 0.0
                  ELSE ROUND(list_max(list_transform(v,
                         x -> abs(x - CAST(floor(x / scale + 0.5) AS INT)
                                      * scale))), 6)
             END AS max_err
      FROM q
    )
    SELECT COUNT(*) AS cnt,
           CAST(CAST(CAST(SUM(CAST(CAST(max_err AS VARCHAR) AS DECIMAL(38,12)))
                          AS VARCHAR) AS DOUBLE)
                / COUNT(max_err) AS DOUBLE) AS avg_max_err,
           MAX(max_err) AS worst_err,
           CAST(CAST(CAST(SUM(CAST(CAST(scale_r AS VARCHAR) AS DECIMAL(38,12)))
                          AS VARCHAR) AS DOUBLE)
                / COUNT(scale_r) AS DOUBLE) AS avg_scale
    FROM e
    """,
    doc="int8 embedding quantization + reconstruction-error profile (the "
    "storage-side piece of the similarity stack): per-vector symmetric "
    "scale = max|x|/127, round-half-up quantize, dequantize, max abs error "
    "per vector, then global error/scale stats in one narrow pass — all "
    "built-in array expressions (transform/array_max), no UDF, no shuffle "
    "before the 1-row aggregate; identical element-wise expressions in the "
    "DuckDB oracle make the double math bit-reproducible",
)
def embedding_quantize_int8(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import avg_exact

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    base = emb.select(
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    ).withColumn("scale", F.expr("array_max(transform(v, x -> abs(x))) / 127"))
    errs = base.select(
        F.round(F.col("scale"), 6).alias("scale_r"),
        F.when(F.col("scale") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.expr(
                    "array_max(transform(v, x -> abs(x - "
                    "CAST(floor(x / scale + 0.5D) AS INT) * scale)))"
                ),
                6,
            )
        )
        .alias("max_err"),
    )
    return errs.agg(
        F.count(F.lit(1)).alias("cnt"),
        avg_exact("max_err").alias("avg_max_err"),
        F.max("max_err").alias("worst_err"),
        avg_exact("scale_r").alias("avg_scale"),
    )


@register(
    "embedding_norm_stats",
    """
    WITH n AS (
      SELECT ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 4)
               AS nrm
      FROM embeddings
    )
    SELECT COUNT(*) AS cnt,
           CAST(CAST(CAST(SUM(CAST(CAST(nrm AS VARCHAR) AS DECIMAL(38,12)))
                          AS VARCHAR) AS DOUBLE)
                / COUNT(nrm) AS DOUBLE) AS avg_norm,
           MIN(nrm) AS min_norm,
           MAX(nrm) AS max_norm
    FROM n
    """,
    doc="embedding-column profiling: L2 norm distribution in one narrow "
    "pass (zip_with/aggregate dot product, no UDF) — the sanity check run "
    "before any similarity job (zero norms break cosine)",
)
def embedding_norm_stats(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import avg_exact

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    nrm = F.round(
        F.expr(
            "sqrt(aggregate(zip_with(embedding, embedding, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0D, (acc, v) -> acc + v))"
        ),
        4,
    )
    return emb.select(nrm.alias("nrm")).agg(
        F.count(F.lit(1)).alias("cnt"),
        avg_exact("nrm").alias("avg_norm"),
        F.min("nrm").alias("min_norm"),
        F.max("nrm").alias("max_norm"),
    )


_KM_DIST = (
    "list_sum(list_transform(range(1, len(e.v)+1), "
    "i -> (e.v[i]-c.vec[i])*(e.v[i]-c.vec[i])))"
)


def _km_assign(cent_cte: str, with_v: bool) -> str:
    v = ", e.v" if with_v else ""
    return f"""
  SELECT e.vec_id{v},
         (SELECT c.cid FROM {cent_cte} c
          ORDER BY {_KM_DIST}, c.cid
          LIMIT 1) AS cid
  FROM emb e"""


_KM_MEAN = (
    "CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR) AS DECIMAL(38,12)))"
    " AS VARCHAR) AS DOUBLE) / COUNT(*) AS DOUBLE)"
)


def _km_update(assign_cte: str) -> str:
    # decimal-exact elementwise mean (avg_exact twin): plain AVG depends on
    # accumulation order and the next round's strict-< argmin consumes the
    # raw value — see operators.clustering._update
    return f"""
  SELECT cid, list(m ORDER BY i) AS vec
  FROM (SELECT cid, r.i AS i, {_KM_MEAN} AS m
        FROM {assign_cte}, unnest(range(1, len(v)+1)) AS r(i)
        GROUP BY cid, r.i)
  GROUP BY cid"""


@register(
    "kmeans_cluster_sizes",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 4)
    ),
    a1 AS ({_km_assign('c0', True)}),
    c1 AS ({_km_update('a1')}),
    a2 AS ({_km_assign('c1', True)}),
    c2 AS ({_km_update('a2')}),
    a3 AS ({_km_assign('c2', False)})
    SELECT cid, COUNT(*) AS n_members FROM a3 GROUP BY cid ORDER BY cid
    """,
    doc="iterative Lloyd k-means (k=4, 3 fixed rounds, deterministic "
    "lowest-id seeding, lower-cid tie-break) over the embedding corpus -> "
    "cluster sizes. VALUE-checked: the three Lloyd rounds are unrolled in "
    "the DuckDB oracle (per-round argmin subquery + elementwise-mean CTE) "
    "with identical seeding and tie-break, so the driver hash-compares the "
    "final sizes; also NumPy-reference- and partitioning-invariance-tested "
    "(tests/test_clustering.py). Scale shape: assignment is a zero-shuffle "
    "codegen argmin against ONE broadcast centroid-array row; the update "
    "shuffle carries O(k x d) partial sums, not O(rows)",
)
def kmeans_cluster_sizes(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.clustering import (
        cluster_profile,
        kmeans_assign,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return cluster_profile(kmeans_assign(emb, k=4, n_iter=3))


@register(
    "label_centroids",
    """
    SELECT label,
           CAST(r.i - 1 AS INT) AS dim,
           ROUND(CAST(CAST(CAST(SUM(CAST(CAST(CAST(embedding[r.i] AS DOUBLE)
                                    AS VARCHAR) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                      / COUNT(*) AS DOUBLE), 6) AS avg_val
    FROM embeddings,
         unnest(range(1, len(embedding) + 1)) AS r(i)
    GROUP BY label, dim
    ORDER BY label, dim
    """,
    doc="per-label centroid (elementwise mean embedding): posexplode to "
    "(label, dim, x) then a partial-aggregated mean — shuffle volume is "
    "labels x dims regardless of corpus size; the class-prototype "
    "computation behind centroid classifiers and drift monitoring. "
    "Decimal-exact mean at scale 12: Spark and DuckDB round a double to "
    "DECIMAL differently on boundary values (HALF_UP on the decimal "
    "expansion vs binary-artifact nearbyint), so the element cast must "
    "sit WAY below the 6-decimal output rounding — at scale 6 a single "
    "boundary element flipped the last digit of one of 640 groups at "
    "sf0.1",
)
def label_centroids(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    exploded = emb.select(
        "label",
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "dim", "x"
        ),
    )
    mean = (
        F.sum(F.col("x").cast("decimal(38,12)")).cast("double")
        / F.count(F.lit(1))
    ).cast("double")
    return (
        exploded.groupBy("label", "dim")
        .agg(F.round(mean, 6).alias("avg_val"))
        .orderBy("label", "dim")
    )


_IVF_KM_DIST = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)


_IVF_KM_SQL = f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    assigned AS (
      SELECT e.vec_id AS cand_id, e.embedding AS c_vec,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    probes AS (
      SELECT query_id, q_vec, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_KM_DIST.format(a='q.v', b='c.vec')}, c.cid)
                 AS r
        FROM emb q CROSS JOIN c1 c
        WHERE q.vec_id < 5
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT p.query_id, a.cand_id,
             {_COS_SQL.format(a='p.q_vec', b='a.c_vec')} AS cosine
      FROM assigned a JOIN probes p USING (cid)
      WHERE a.cand_id <> p.query_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
"""


@register(
    "ann_ivf_kmeans_topk",
    _IVF_KM_SQL,
    doc="IVF over TRAINED centroids — closes ann_ivf_topk's documented "
    "stand-in: the coarse quantizer is one Lloyd update over the "
    "lowest-id seeds (operators.clustering.kmeans_centroids, same "
    "seeding/strict-< tie-break as kmeans_cluster_sizes, whose oracle "
    "discipline this reuses — the Lloyd round is unrolled in the CTE), "
    "assignment and probing by squared euclidean against the broadcast "
    "centroid table, fine scoring by cosine. Same dataflow as the "
    "stand-in IVF — train-then-probe changes WHERE vectors land, not "
    "how anything shuffles; candidate volume stays "
    "corpus/n_centroids*n_probe per query",
)
def ann_ivf_kmeans_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    return _ivf_kmeans_topk(
        emb, k=5, cent=_ivf_centroids_cached(spark, emb, sf_dir)
    )


def _ivf_kmeans_topk(emb, k=5, n_probe=2, cent=None):
    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
        kmeans_centroids,
    )

    # ``cent`` lets callers substitute the stage-cached trained quantizer
    # (_ivf_centroids_cached) — identical 8-row table, training skipped
    if cent is None:
        cent = kmeans_centroids(emb, k=8, n_iter=1)
    base = emb.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    from pyspark.sql import Window

    # corpus assignment: the clustering module's zero-shuffle argmin fold
    # over ONE broadcast centroid-array row — the crossJoin + window
    # formulation multiplies the corpus by k and hash-exchanges it, which
    # at 100 TB is the dominant cost of the whole query (review finding).
    # Identical strict-< lower-cid tie-break as ROW_NUMBER (d, cid).
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    assigned = (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("c_vec"),
            "cid",
        )
    )
    # query probing stays window-based: n_queries x k rows is tiny
    cent = cent.select("cid", F.col("vec").alias("cent_vec"))
    d = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        base.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            "_v",
        )
        .crossJoin(F.broadcast(cent))
        .select("query_id", "q_vec", "cid", d.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "q_vec", "cid")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            S.cosine_expr("q_vec", "c_vec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


_PQ_M, _PQ_K, _PQ_D = 4, 4, 16  # 4 subspaces x 16 dims, 4 codewords each

_PQ_SUBDIST = (
    "list_sum(list_transform(range(1, {d} + 1), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)


def _pq_sql_ctes(
    k_codes: int,
    sfx: str,
    train: bool = False,
    emb: str = "emb",
    subvecs: str = "subvecs",
) -> str:
    """DuckDB CTE chain for one PQ operating point (m=_PQ_M, k=k_codes).

    Expects ``emb`` (vec_id, v) and ``subvecs`` (vec_id, subspace, sub)
    CTEs upstream (names overridable — the residual-encoded IVFADC
    points them at the residual tables); emits ``pq_ranked{sfx}`` with
    the full ADC ranking (query_id, cand_id, adc_dist, rank —
    unfiltered). One generator for every operating point so seed
    selection / slicing / argmin encode cannot drift between the k=4
    and k=16 twins (the same review finding _pq_parts fixed on the
    Spark side). ``train`` unrolls one per-subspace Lloyd update:
    assignment against the seed codebook, then decimal-exact
    elementwise means (the ivf_km c1 discipline with (subspace, code)
    as the group key) become the codebook the encode/ADC stages read.
    """
    trained = f"""
    codebook0{sfx} AS (
      SELECT s.s AS subspace, seeds{sfx}.code,
             seeds{sfx}.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS cw
      FROM seeds{sfx}, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    assigned{sfx} AS (
      SELECT vec_id, subspace, code, sub FROM (
        SELECT sv.vec_id, sv.subspace, cb.code, sv.sub,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.subspace
                 ORDER BY {_PQ_SUBDIST.format(a='sv.sub', b='cb.cw', d=_PQ_D)},
                          cb.code) AS r
        FROM {subvecs} sv JOIN codebook0{sfx} cb ON sv.subspace = cb.subspace
      ) WHERE r = 1
    ),
    codebook{sfx} AS (
      SELECT subspace, code, list(m ORDER BY i) AS cw
      FROM (SELECT a.subspace, a.code, r.i AS i,
                   {avg_exact_sql('a.sub[r.i]')} AS m
            FROM assigned{sfx} a, unnest(range(1, len(a.sub)+1)) AS r(i)
            GROUP BY 1, 2, 3)
      GROUP BY subspace, code
    ),"""
    seeded = f"""
    codebook{sfx} AS (
      SELECT s.s AS subspace, seeds{sfx}.code,
             seeds{sfx}.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS cw
      FROM seeds{sfx}, (SELECT unnest(range({_PQ_M})) AS s) s
    ),"""
    return f"""
    seeds{sfx} AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
      FROM (SELECT vec_id, v FROM {emb} ORDER BY vec_id LIMIT {k_codes})
    ),{trained if train else seeded}
    encoded{sfx} AS (
      SELECT vec_id, subspace, code FROM (
        SELECT sv.vec_id, sv.subspace, cb.code,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.subspace
                 ORDER BY {_PQ_SUBDIST.format(a='sv.sub', b='cb.cw', d=_PQ_D)},
                          cb.code) AS r
        FROM {subvecs} sv JOIN codebook{sfx} cb ON sv.subspace = cb.subspace
      ) WHERE r = 1
    ),
    qtab{sfx} AS (
      SELECT sv.vec_id AS query_id, sv.subspace, cb.code,
             ROUND({_PQ_SUBDIST.format(a='sv.sub', b='cb.cw', d=_PQ_D)}, 8)
               AS dpart
      FROM {subvecs} sv JOIN codebook{sfx} cb ON sv.subspace = cb.subspace
      WHERE sv.vec_id < 5
    ),
    adc{sfx} AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             ROUND(CAST(SUM(CAST(q.dpart AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM encoded{sfx} e
      JOIN qtab{sfx} q ON e.subspace = q.subspace AND e.code = q.code
      WHERE e.vec_id <> q.query_id
      GROUP BY q.query_id, e.vec_id
    ),
    pq_ranked{sfx} AS (
      SELECT query_id, cand_id, adc_dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adc_dist, cand_id) AS INT) AS rank
      FROM adc{sfx}
    )"""


def _pq_parts(emb, k_codes: int = _PQ_K, train: bool = False):
    """Shared PQ construction: (subvecs, codebook, encoded, dist_expr).

    One implementation for the encode profile, the ADC search, and the
    recall gate — the subspace slicing, seed codebook, and argmin encode
    must stay byte-identical across all three (review finding: three
    copies drift).
    """
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    return _pq_parts_v(base, k_codes, train)


def _pq_parts_v(base, k_codes: int = _PQ_K, train: bool = False):
    """PQ construction over a pre-shaped (vec_id, v: array<double>) table
    — the residual-encoded IVFADC points this at residuals; _pq_parts
    wraps it for the raw-embedding callers."""
    from pyspark.sql import Window

    sub_slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.slice("v", s * _PQ_D + 1, _PQ_D).alias("sub"),
            )
            for s in range(_PQ_M)
        ]
    )
    subvecs = base.select("vec_id", F.explode(sub_slices).alias("e")).select(
        "vec_id", "e.subspace", "e.sub"
    )
    seeds = (
        base.orderBy("vec_id")
        .limit(k_codes)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1)
            .cast("int")
            .alias("code"),
            "v",
        )
    )
    codebook = seeds.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.slice("v", s * _PQ_D + 1, _PQ_D).alias("cw"),
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("e"),
        "code",
    ).select("e.subspace", "code", "e.cw")
    d = F.expr(
        "aggregate(zip_with(sub, cw, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy("d", "code")
    if train:
        # one Lloyd update PER SUBSPACE: assign every subvector to its
        # nearest seed codeword, then decimal-exact elementwise means
        # become the trained codebook (operators/clustering.py's exact-mean
        # discipline — raw-double means would make the downstream strict-<
        # argmin engine-dependent). Every seed is a data point, so every
        # cell keeps >= 1 member (itself): no empty-cell fallback needed.
        # Update shuffle is O(m * k * sub_dim) partial sums, never rows.
        from newyork_taxi_etl_spark.functions.exact import avg_exact

        assigned = (
            subvecs.join(F.broadcast(codebook), "subspace")
            .select("vec_id", "subspace", "code", "sub", d.alias("d"))
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
        )
        means = (
            assigned.select(
                "subspace", "code", F.posexplode("sub").alias("i", "x")
            )
            .groupBy("subspace", "code", "i")
            .agg(avg_exact("x").alias("m"))
        )
        codebook = (
            means.groupBy("subspace", "code")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("s"))
            .select(
                "subspace", "code", F.expr("transform(s, e -> e.m)").alias("cw")
            )
            # the trained codebook is an iterative artifact consumed by
            # BOTH the encode and the qtab branches of every caller —
            # without the pin the Lloyd round re-executes once per
            # reference inside a single action (r13 bench: ~1-2 s per
            # trained-PQ query).  64 rows; the argmax-lineage rule.
            .localCheckpoint(eager=True)
        )
    encoded = (
        subvecs.join(F.broadcast(codebook), "subspace")
        .select("vec_id", "subspace", "code", d.alias("d"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
    )
    return subvecs, codebook, encoded, d


def _ivf_centroids_cached(spark, emb, sf_dir: str, k: int = 8):
    """The trained IVF coarse quantizer (k=8, one exact-mean Lloyd round
    — deterministic: lowest-vec_id seeds, decimal means, strict-< argmin)
    persisted ONCE per corpus through the stage cache.  Seven registered
    queries each re-ran this training on the identical input
    (ann_ivf_kmeans_topk, ann_recall_trained's ivf leg, the persisted/
    filtered index probes, knn_label_accuracy_indexed,
    ann_ranking_quality, ann_ivf_balance) plus both IVFPQ index builds;
    they now read the same 8-row table back — doubles round-trip parquet
    bit-exactly, so hit and miss paths are value-identical.  Subset
    trainers (incremental append, streaming ingest) keep their own
    builds: their input is not the full corpus."""
    from newyork_taxi_etl_spark.operators.clustering import (
        kmeans_centroids,
    )
    from newyork_taxi_etl_spark.stagecache import cached_df

    return cached_df(
        spark,
        f"ivfcent{k}:{sf_dir}",
        lambda: kmeans_centroids(emb, k=k, n_iter=1),
        n_files=1,
    )


def _pq_trained_cached(
    spark, base, cache_key: str, k_codes: int = 16, train: bool = True
):
    """Stage-cached PQ index build (r13 verdict item 2): the codebook
    (Lloyd-trained, or the deterministic lowest-id seeds when
    ``train=False``) and the argmin code assignment are derived
    deterministically from the corpus, yet five registered queries
    (ann_pq_adc_trained_topk, ann_recall_trained's legs, both
    ann_pq_rotated_recall legs, both ann_opq_trained_recall legs) and
    the IVFPQ index builds each re-ran the build.  This persists
    (codebook, encoded) ONCE per (variant, corpus) through the
    streaming stage cache — doubles round-trip parquet bit-exactly, so
    hit and miss paths are value-identical — and every family member
    reads the same artifacts back.  subvecs/d are pure slicing
    expressions over ``base`` (no training), rebuilt per caller; the
    returned tuple is _pq_parts_v-shaped."""
    import os

    from newyork_taxi_etl_spark.stagecache import cached_dir

    subvecs, _, _, d = _pq_parts_v(base, k_codes, train=False)

    def build(target: str) -> None:
        _, cb, enc, _ = _pq_parts_v(base, k_codes, train=train)
        cb.write.mode("overwrite").parquet(
            os.path.join(target, "codebook")
        )
        enc.select("vec_id", "subspace", "code", "d").write.mode(
            "overwrite"
        ).parquet(os.path.join(target, "encoded"))

    sdir = cached_dir(cache_key, build)
    codebook = spark.read.parquet(os.path.join(sdir, "codebook"))
    encoded = spark.read.parquet(os.path.join(sdir, "encoded"))
    return subvecs, codebook, encoded, d


@register(
    "pq_encode_profile",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {_PQ_K})
    ),
    codebook AS (
      SELECT s.s AS subspace, seeds.code,
             seeds.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS cw
      FROM seeds, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    subvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM emb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    encoded AS (
      SELECT vec_id, subspace, code, d FROM (
        SELECT sv.vec_id, sv.subspace, cb.code,
               {_PQ_SUBDIST.format(a='sv.sub', b='cb.cw', d=_PQ_D)} AS d,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.subspace
                 ORDER BY {_PQ_SUBDIST.format(a='sv.sub', b='cb.cw', d=_PQ_D)},
                          cb.code) AS r
        FROM subvecs sv JOIN codebook cb ON sv.subspace = cb.subspace
      ) WHERE r = 1
    )
    SELECT CAST(subspace AS INT) AS subspace,
           code,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(CAST(SUM(CAST(ROUND(d, 6) AS DECIMAL(38,12)))
                           AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS avg_sq_err
    FROM encoded
    GROUP BY subspace, code
    ORDER BY subspace, code
    """,
    doc="product quantization encode profile (the FAISS-IVFPQ compression "
    "staple): 64-dim vectors split into 4 x 16-dim subspaces, each "
    "subvector snapped to its nearest of 4 per-subspace codewords "
    "(deterministic lowest-id seed codebooks — swap in kmeans_centroids "
    "per subspace to train, same dataflow), emitting the code-usage "
    "histogram and per-cell mean squared reconstruction error — the two "
    "numbers that size a PQ index (dead codewords and quantization "
    "loss). Dataflow: vectors explode to m subspace rows, the m x k "
    "codebook broadcasts, argmin per (vector, subspace) via one window "
    "over m*k rows per vector; the aggregate is codebook-sized. 16-byte "
    "codes for 256-byte vectors at m=4,k=4 (2 bits/subspace) — the "
    "memory story that makes billion-vector ANN fit in RAM",
)
def pq_encode_profile(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    _, _, encoded, _ = _pq_parts(emb)
    return (
        encoded.groupBy(
            F.col("subspace").cast("int").alias("subspace"), "code"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum(F.round(F.col("d"), 6).cast("decimal(38,12)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_sq_err"),
        )
        .orderBy("subspace", "code")
    )


@register(
    "ann_pq_adc_topk",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, v
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT {_PQ_K})
    ),
    codebook AS (
      SELECT s.s AS subspace, seeds.code,
             seeds.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS cw
      FROM seeds, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    subvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM emb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    encoded AS (
      SELECT vec_id, subspace, code FROM (
        SELECT sv.vec_id, sv.subspace, cb.code,
               ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.subspace
                 ORDER BY {_PQ_SUBDIST.format(a='sv.sub', b='cb.cw', d=_PQ_D)},
                          cb.code) AS r
        FROM subvecs sv JOIN codebook cb ON sv.subspace = cb.subspace
      ) WHERE r = 1
    ),
    qtab AS (
      SELECT sv.vec_id AS query_id, sv.subspace, cb.code,
             ROUND({_PQ_SUBDIST.format(a='sv.sub', b='cb.cw', d=_PQ_D)}, 8)
               AS dpart
      FROM subvecs sv JOIN codebook cb ON sv.subspace = cb.subspace
      WHERE sv.vec_id < 5
    ),
    adc AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             ROUND(CAST(SUM(CAST(q.dpart AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM encoded e
      JOIN qtab q ON e.subspace = q.subspace AND e.code = q.code
      WHERE e.vec_id <> q.query_id
      GROUP BY q.query_id, e.vec_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_dist, cand_id) AS INT) AS rank
      FROM adc
    )
    SELECT query_id, cand_id, adc_dist, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="PQ asymmetric-distance (ADC) top-k — the search half of the "
    "pq_encode_profile index: each query precomputes an m x k distance "
    "table (its subvector to every codeword — 16 doubles per query "
    "here), then every encoded vector's approximate distance is just m "
    "table LOOKUPS summed (join on (subspace, code), decimal-summed so "
    "the m-part accumulation is order-independent) — no original "
    "vectors touched at scan time. This is how billion-vector indexes "
    "scan compressed codes (Jegou et al., PAMI'11): the scan reads "
    "2-bit codes, not 256-byte vectors; the distance-table join "
    "broadcasts queries x m x k rows. Ranked by (adc_dist, cand_id) — "
    "deterministic; PQ at m=4,k=4 is deliberately coarse, so this "
    "measures the dataflow, not recall (size m/k up for that)",
)
def ann_pq_adc_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    parts = _pq_trained_cached(
        spark, base, f"pqu4:{sf_dir}", k_codes=_PQ_K, train=False
    )
    return _pq_adc_topk(None, k=5, k_codes=_PQ_K, parts=parts)


def _pq_adc_topk(emb, k=5, k_codes=_PQ_K, train=False, query_ids=None,
                 base=None, parts=None):
    """ADC search over PQ codes. ``query_ids=None`` keeps the registered
    queries' fixed probe set (vec_id < 5); passing explicit ids lets the
    planted-corpus training gate (tests/test_quality_gates.py) probe with
    queries DISJOINT from the seed vectors while running this exact
    production chain (no test-local copy to drift).  ``base`` (vec_id,
    v: array<double>) substitutes a pre-shaped vector table — the
    rotated-PQ gate points this at Hadamard-rotated vectors; everything
    downstream (seeds, codebook, encode, ADC) is the shared chain.
    ``parts`` substitutes an already-built _pq_parts_v tuple — the OPQ
    gate reuses ONE training for both its reconstruction matrix and this
    ADC ranking instead of training twice."""
    from pyspark.sql import Window

    subvecs, codebook, encoded, d = (
        parts
        if parts is not None
        else _pq_parts_v(base, k_codes, train)
        if base is not None
        else _pq_parts(emb, k_codes, train)
    )
    encoded = encoded.select("vec_id", "subspace", "code")
    q_pred = (
        F.col("vec_id") < 5
        if query_ids is None
        else F.col("vec_id").isin([int(q) for q in query_ids])
    )
    qtab = (
        subvecs.filter(q_pred)
        .join(F.broadcast(codebook), "subspace")
        .select(
            F.col("vec_id").alias("query_id"),
            "subspace",
            "code",
            F.round(d, 8).alias("dpart"),
        )
    )
    adc = (
        encoded.join(F.broadcast(qtab), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.round(
                F.sum(F.col("dpart").cast("decimal(38,12)")).cast("double"), 6
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


@register(
    "ann_pq_adc_k16_topk",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    subvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM emb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(16, '_k16')}
    SELECT query_id, cand_id, adc_dist, rank
    FROM pq_ranked_k16 WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="PQ-ADC top-k at the SECOND operating point, m=4 x k=16 codewords "
    "(4 bits/subspace, 2-byte codes for 256-byte vectors): identical "
    "dataflow to ann_pq_adc_topk (codebook broadcasts, scan reads codes, "
    "per-query m x k distance table, m lookups per candidate) at 4x the "
    "codebook — the next point on the compression/accuracy curve that "
    "ann_recall_trained reports (recall@10 0.22 -> 0.32 measured at "
    "sf0.01; both points use the same untrained lowest-id seed "
    "codebooks, so the curve isolates the k effect). Cost scales with "
    "m x k in the broadcast table only; the "
    "candidate scan is unchanged — exactly how a 100 TB index trades "
    "bytes for recall",
)
def ann_pq_adc_k16_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    parts = _pq_trained_cached(
        spark, base, f"pqu16:{sf_dir}", k_codes=16, train=False
    )
    return _pq_adc_topk(None, k=5, k_codes=16, parts=parts)


@register(
    "ann_pq_adc_trained_topk",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    subvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM emb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(16, '_t16', train=True)}
    SELECT query_id, cand_id, adc_dist, rank
    FROM pq_ranked_t16 WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="PQ-ADC top-k with TRAINED codebooks — one Lloyd update per "
    "subspace over the m=4 x k=16 seed codebooks (assignment by argmin "
    "against the broadcast seed codewords, decimal-exact elementwise "
    "means become the codebook; every seed is a data point, so no cell "
    "is ever empty), then the identical encode/distance-table/ADC "
    "dataflow. This is the real FAISS-style IVFPQ training step as "
    "dataflow: the update shuffle carries m x k x sub_dim partial sums, "
    "never vectors; the codebook still broadcasts. Completes the "
    "compression/accuracy curve ann_recall_trained reports: 0.22 (k=4) "
    "-> 0.32 (k=16) -> 0.34 (k=16 trained) at sf0.01. The small training "
    "gain is DATA-limited, not a bug: the synthetic corpus is near-"
    "isotropic 64-dim noise, so a 16-dim subspace quantized to 16 cells "
    "keeps high MSE wherever the codewords sit; real embeddings (low "
    "intrinsic dimension) are where training pays. The gate records the "
    "measured number instead of assuming the textbook one",
)
def ann_pq_adc_trained_topk(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    parts = _pq_trained_cached(spark, base, f"pqt16_raw:{sf_dir}")
    return _pq_adc_topk(None, k=5, k_codes=16, parts=parts)


# Coarse-quantizer chain shared by the two composed IVF-PQ variants:
# trained centroids (the ann_ivf_kmeans_topk c0/a1/c1 discipline), the
# corpus cell assignment, and the n_probe=2 probe lists.  Expects an
# ``emb`` (vec_id, embedding, v) CTE upstream.
_IVF_COARSE_CTES = f"""
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    cells AS (
      SELECT e.vec_id AS cand_id,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_KM_DIST.format(a='q.v', b='c.vec')}, c.cid)
                 AS r
        FROM emb q CROSS JOIN c1 c
        WHERE q.vec_id < 5
      ) WHERE r <= 2
    )"""


# RAW-vector composed IVF-PQ tail: PQ trained on the vectors
# themselves, the probe prunes cells, ADC runs over codes in probed
# cells only.  Emits ``ivfpq_ranked`` (query_id, cand_id, adc_dist,
# rank).  Composable after _IVF_COARSE_CTES.
_IVFPQ_RAW_TAIL = f"""
    subvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM emb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(16, '_t16', train=True)},
    adc_ivfpq AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             ROUND(CAST(SUM(CAST(q.dpart AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM encoded_t16 e
      JOIN cells a ON a.cand_id = e.vec_id
      JOIN probes p ON p.cid = a.cid
      JOIN qtab_t16 q ON e.subspace = q.subspace AND e.code = q.code
                     AND q.query_id = p.query_id
      WHERE e.vec_id <> q.query_id
      GROUP BY q.query_id, e.vec_id
    ),
    ivfpq_ranked AS (
      SELECT query_id, cand_id, adc_dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adc_dist, cand_id) AS INT) AS rank
      FROM adc_ivfpq
    )"""

# RESIDUAL-encoded composed IVF-PQ tail — the true FAISS IVFADC: PQ
# codebooks train on RESIDUALS v - centroid[cell] (what remains after
# the coarse quantizer explains the vector — lower-variance input, so
# the same code budget spends on finer structure), queries build one
# distance table PER PROBED CELL against their own residual w.r.t.
# that cell's centroid.  Emits ``ivfpq_res_ranked``.
_IVFPQ_RES_TAIL = f"""
    remb AS MATERIALIZED (
      SELECT e.vec_id,
             list_transform(range(1, 65), i -> e.v[i] - c.vec[i]) AS v
      FROM emb e
      JOIN cells a ON a.cand_id = e.vec_id
      JOIN c1 c ON c.cid = a.cid
    ),
    rsubvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM remb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(16, '_r16', train=True, emb='remb', subvecs='rsubvecs')},
    qres AS (
      SELECT p.query_id, p.cid,
             list_transform(range(1, 65), i -> q.v[i] - c.vec[i]) AS r
      FROM probes p
      JOIN emb q ON q.vec_id = p.query_id
      JOIN c1 c ON c.cid = p.cid
    ),
    qsubs AS (
      SELECT query_id, cid, s.s AS subspace,
             r[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM qres, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    qtab_res AS (
      SELECT query_id, cid, qs.subspace, cb.code,
             ROUND({_PQ_SUBDIST.format(a='qs.sub', b='cb.cw', d=_PQ_D)}, 8)
               AS dpart
      FROM qsubs qs JOIN codebook_r16 cb ON qs.subspace = cb.subspace
    ),
    adc_res AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             ROUND(CAST(SUM(CAST(q.dpart AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS adc_dist
      FROM encoded_r16 e
      JOIN cells a ON a.cand_id = e.vec_id
      JOIN qtab_res q ON q.cid = a.cid AND e.subspace = q.subspace
                     AND e.code = q.code
      WHERE e.vec_id <> q.query_id
      GROUP BY q.query_id, e.vec_id
    ),
    ivfpq_res_ranked AS (
      SELECT query_id, cand_id, adc_dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY adc_dist, cand_id) AS INT) AS rank
      FROM adc_res
    )"""

_IVFPQ_CTES = f"""
    {_IVF_COARSE_CTES},
    {_IVFPQ_RAW_TAIL}"""

_IVFPQ_RES_CTES = f"""
    {_IVF_COARSE_CTES},
    {_IVFPQ_RES_TAIL}"""


def _ivfpq_adc_topk(spark, sf_dir, k=5, n_probe=2):
    """COMPOSED IVF-PQ search through a PERSISTED index (FAISS IVFADC,
    Jegou et al., PAMI'11 — the layout serving teams deploy at 100 TB):

    BUILD (once): train the coarse quantizer (k=8, one Lloyd round —
    the ann_index_persisted_probe lifecycle), train the m=4 x k=16 PQ
    codebooks (_pq_parts, one per-subspace Lloyd round), and persist
    the inverted lists as (cand_id, subspace, code) rows PARTITIONED BY
    CELL ID — the index stores 2-byte codes, never vectors — plus the
    codebook and centroid side tables.

    PROBE: each query finds its n_probe=2 nearest cells from the
    persisted centroids; the probe list pushes as a STATIC partition
    filter so the code scan reads corpus/n_cells x n_probe, and the
    per-query m x k distance table (broadcast, 320 rows) turns each
    candidate's approximate distance into m integer-keyed lookups,
    decimal-summed.  Scale shape: every join input on the scan side is
    code rows from probed cells only; everything else broadcasts.
    """
    import os

    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
    )
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    from newyork_taxi_etl_spark.stagecache import cached_dir

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    # subvecs/d are pure slicing expressions (train flag never touches
    # them) — the probe's qtab needs only the query rows
    subvecs, _, _, d = _pq_parts(emb, k_codes=16, train=False)

    def build(target: str) -> None:
        # BUILD: coarse quantizer + cell assignment (zero-shuffle argmin
        # fold over one broadcast centroid-array row), PQ codes from the
        # family-cached trained codebooks; inverted lists persisted
        # partitioned by cid.  Stage-cached per corpus (r13 verdict item
        # 2): k/n_probe only shape the PROBE, so one persisted index
        # serves ann_ivfpq_adc_topk AND ann_recall_ivfpq's k=10 leg.
        cent = _ivf_centroids_cached(spark, emb, sf_dir)
        cent_row = cent.agg(
            F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias(
                "cents"
            )
        )
        cells = (
            base.join(F.broadcast(cent_row), how="cross")
            .withColumn("cid", F.expr(_ARGMIN))
            .select(F.col("vec_id").alias("cand_id"), "cid")
        )
        base_v = emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
                "v"
            ),
        )
        _, codebook, encoded, _ = _pq_trained_cached(
            spark, base_v, f"pqt16_raw:{sf_dir}"
        )
        (
            encoded.select(
                F.col("vec_id").alias("cand_id"), "subspace", "code"
            )
            .join(cells, "cand_id")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(os.path.join(target, "codes"))
        )
        codebook.write.mode("overwrite").parquet(
            os.path.join(target, "codebook")
        )
        cent.write.mode("overwrite").parquet(
            os.path.join(target, "centroids")
        )

    idx_root = cached_dir(f"ivfpqidx_raw:{sf_dir}", build)

    # PROBE: nearest n_probe cells per query from persisted centroids,
    # pushed as a static partition filter on the code scan
    cent_t = spark.read.parquet(os.path.join(idx_root, "centroids")).select(
        "cid", F.col("vec").alias("cent_vec")
    )
    dq = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        base.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "_v")
        .crossJoin(F.broadcast(cent_t))
        .select("query_id", "cid", dq.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select("query_id", "cid")
    ).localCheckpoint(eager=True)
    probe_cids = sorted({r["cid"] for r in probes.collect()})
    idx_scan = spark.read.parquet(os.path.join(idx_root, "codes")).filter(
        F.col("cid").isin(probe_cids)
    )

    # per-query distance tables from the PERSISTED codebook (m x k rows
    # per query); ADC = m lookups per candidate, decimal-summed
    cbk = spark.read.parquet(os.path.join(idx_root, "codebook"))
    qtab = (
        subvecs.filter(F.col("vec_id") < 5)
        .join(F.broadcast(cbk), "subspace")
        .select(
            F.col("vec_id").alias("query_id"),
            "subspace",
            "code",
            F.round(d, 8).alias("dpart"),
        )
    )
    adc = (
        idx_scan.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(F.broadcast(qtab), ["query_id", "subspace", "code"])
        .groupBy("query_id", "cand_id")
        .agg(
            F.round(
                F.sum(F.col("dpart").cast("decimal(38,12)")).cast("double"),
                6,
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


@register(
    "ann_ivfpq_adc_topk",
    f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    {_IVFPQ_CTES}
    SELECT query_id, cand_id, adc_dist, rank
    FROM ivfpq_ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="COMPOSED IVF-PQ top-k — the FAISS IVFADC layout (Jegou et al., "
    "PAMI'11), the one ANN shape the registry lacked: the trained "
    "coarse quantizer routes each query to its n_probe=2 nearest "
    "cells, and the PQ asymmetric-distance scan runs over the 2-byte "
    "codes WITHIN PROBED CELLS ONLY — candidate volume is "
    "corpus/n_cells x n_probe AND each candidate costs m table lookups "
    "instead of a d-dim dot; this multiplicative composition is how "
    "billion-vector indexes fit both RAM and latency budgets.  Serving "
    "lifecycle is real: inverted lists persist PARTITIONED BY CELL "
    "(cand_id, subspace, code — codes, never vectors), the probe list "
    "pushes as a static partition filter (plan-tested "
    "PartitionFilters), codebooks/centroids persist as side tables, "
    "and the per-query m x k distance table broadcasts.  Reuses "
    "ann_index_persisted_probe's quantizer lifecycle and "
    "ann_pq_adc_trained_topk's trained codebooks wholesale; ranked by "
    "(adc_dist, cand_id) with decimal-summed dparts — deterministic "
    "and engine-exact.  ann_recall_ivfpq floors its recall against "
    "brute force beside the existing curve.",
)
def ann_ivfpq_adc_topk(spark, sf_dir):
    return _ivfpq_adc_topk(spark, sf_dir, k=5)


def _ivfpq_residual_topk(spark, sf_dir, k=5, n_probe=2):
    """RESIDUAL-encoded composed IVF-PQ through a persisted index — the
    true FAISS IVFADC (Jegou et al., PAMI'11 §III): the PQ codebooks
    train on residuals v - centroid[cell] (the coarse quantizer
    explains the bulk, so the SAME m x k code budget quantizes a
    lower-variance signal), the inverted lists store the residual
    codes partitioned by cell, and each query builds one m x k
    distance table PER PROBED CELL against its own residual w.r.t.
    that cell's centroid.  Same serving lifecycle as _ivfpq_adc_topk;
    only the encoded SIGNAL changes."""
    import os

    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
    )
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )
    from newyork_taxi_etl_spark.stagecache import cached_dir

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    # the probe only needs the PQ subdistance expression — pure slicing
    _, _, _, d = _pq_parts(emb, k_codes=16, train=False)

    def build(target: str) -> None:
        # BUILD: coarse quantizer, cell assignment, RESIDUALS per vector,
        # PQ trained on the residuals, codes persisted partitioned by
        # cid.  Stage-cached per corpus (r13 verdict item 2): k/n_probe
        # shape only the probe, so the one persisted index serves
        # ann_ivfpq_residual_topk AND ann_recall_ivfpq's k=10 leg.
        cent = _ivf_centroids_cached(spark, emb, sf_dir)
        cent_row = cent.agg(
            F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias(
                "cents"
            )
        )
        cells = (
            base.join(F.broadcast(cent_row), how="cross")
            .withColumn("cid", F.expr(_ARGMIN))
            .select("vec_id", "cid")
        )
        cent_v = cent.select("cid", F.col("vec").alias("cvec"))
        resid = (
            base.join(cells, "vec_id")
            .join(F.broadcast(cent_v), "cid")
            .select(
                "vec_id",
                "cid",
                F.expr("zip_with(_v, cvec, (x, y) -> x - y)").alias("v"),
            )
        )
        _, codebook, encoded, _ = _pq_parts_v(
            resid.select("vec_id", "v"), k_codes=16, train=True
        )
        (
            encoded.select(
                F.col("vec_id").alias("cand_id"), "subspace", "code"
            )
            .join(
                cells.select(F.col("vec_id").alias("cand_id"), "cid"),
                "cand_id",
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(os.path.join(target, "codes"))
        )
        codebook.write.mode("overwrite").parquet(
            os.path.join(target, "codebook")
        )
        cent.write.mode("overwrite").parquet(
            os.path.join(target, "centroids")
        )

    idx_root = cached_dir(f"ivfpqidx_res:{sf_dir}", build)

    # PROBE: n_probe cells per query; the query's distance table is
    # built PER PROBED CELL from its residual against that centroid
    cent_t = spark.read.parquet(os.path.join(idx_root, "centroids")).select(
        "cid", F.col("vec").alias("cent_vec")
    )
    dq = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        base.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "_v")
        .crossJoin(F.broadcast(cent_t))
        .select("query_id", "_v", "cid", "cent_vec", dq.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select(
            "query_id",
            "cid",
            F.expr("zip_with(_v, cent_vec, (x, y) -> x - y)").alias("qr"),
        )
    ).localCheckpoint(eager=True)
    probe_cids = sorted({r["cid"] for r in probes.select("cid").collect()})
    idx_scan = spark.read.parquet(os.path.join(idx_root, "codes")).filter(
        F.col("cid").isin(probe_cids)
    )

    cbk = spark.read.parquet(os.path.join(idx_root, "codebook"))
    sub_slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.slice("qr", s * _PQ_D + 1, _PQ_D).alias("sub"),
            )
            for s in range(_PQ_M)
        ]
    )
    qsubs = probes.select(
        "query_id", "cid", F.explode(sub_slices).alias("e")
    ).select("query_id", "cid", "e.subspace", "e.sub")
    qtab = qsubs.join(F.broadcast(cbk), "subspace").select(
        "query_id",
        "cid",
        "subspace",
        "code",
        F.round(d, 8).alias("dpart"),
    )
    adc = (
        idx_scan.join(F.broadcast(qtab), ["cid", "subspace", "code"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(
            F.round(
                F.sum(F.col("dpart").cast("decimal(38,12)")).cast("double"),
                6,
            ).alias("adc_dist")
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


@register(
    "ann_ivfpq_residual_topk",
    f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    {_IVFPQ_RES_CTES}
    SELECT query_id, cand_id, adc_dist, rank
    FROM ivfpq_res_ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="RESIDUAL-encoded composed IVF-PQ top-k — the true FAISS IVFADC "
    "(Jegou et al., PAMI'11 §III), completing ann_ivfpq_adc_topk: the "
    "PQ codebooks train on residuals v - centroid[cell] (the coarse "
    "quantizer explains the bulk of each vector, so the same m=4 x "
    "k=16 code budget quantizes a lower-variance signal — the reason "
    "production IVFADC encodes residuals), the inverted lists persist "
    "the residual codes partitioned by cell, and each query builds "
    "one m x k distance table PER PROBED CELL against its own "
    "residual w.r.t. that cell's centroid (n_probe x m x k broadcast "
    "rows per query).  Same serving lifecycle and partition-pruned "
    "scan as the raw twin; ann_recall_ivfpq reports both variants' "
    "recall side by side so the residual DELTA is a measured number — "
    "NEGATIVE on this corpus (0.30 vs 0.40 at sf0.01): near-isotropic "
    "synthetic embeddings give the coarse quantizer nothing to "
    "explain, so residuals from different cell frames only decohere "
    "the shared codebook.  Residual encoding pays exactly when the "
    "data has low intrinsic dimension — the gate records the truth of "
    "this corpus instead of assuming the textbook.",
)
def ann_ivfpq_residual_topk(spark, sf_dir):
    return _ivfpq_residual_topk(spark, sf_dir, k=5)


@register(
    "ann_recall_ivfpq",
    f"""
    WITH {_BF10_SQL},
    emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    {_IVF_COARSE_CTES},
    {_IVFPQ_RAW_TAIL},
    {_IVFPQ_RES_TAIL},
    ivfpq AS (
      SELECT query_id, cand_id FROM ivfpq_ranked WHERE rank <= 10
    ),
    ivfpq_res AS (
      SELECT query_id, cand_id FROM ivfpq_res_ranked WHERE rank <= 10
    )
    {_recall_row_sql('ivfpq')}
    UNION ALL
    {_recall_row_sql('ivfpq_res')}
    ORDER BY method
    """,
    doc="recall@10 of BOTH composed IVF-PQ searches (raw-vector ADC and "
    "residual-encoded IVFADC, k=10) against the exact brute-force "
    "top-10 — the driver-gated quality numbers for the composed "
    "paths, completing the ANN recall curve (every other search path "
    "already carries one via ann_recall_at_k / ann_recall_trained), "
    "with the residual-encoding gain exposed as the difference "
    "between the two rows.  The pytest floors in "
    "tests/test_quality_gates.py record the measured numbers so a "
    "quantizer or codebook regression fails even while both engines "
    "agree.",
)
def ann_recall_ivfpq(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") < 5)
    bf = (
        S.brute_force_topk(emb, qs, k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))

    def leg(df, method):
        return (
            df.select("query_id", "cand_id")
            .join(bf, ["query_id", "cand_id"], "semi")
            .agg(F.count(F.lit(1)).alias("hits"))
            .withColumn("method", F.lit(method))
        )

    out = leg(_ivfpq_adc_topk(spark, sf_dir, k=10), "ivfpq").unionAll(
        leg(_ivfpq_residual_topk(spark, sf_dir, k=10), "ivfpq_res")
    )
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "method",
            "hits",
            "total",
            F.round(F.col("hits").cast("double") / F.col("total"), 6).alias(
                "recall"
            ),
        )
        .orderBy("method")
    )


@register(
    "ann_recall_trained",
    f"""
    WITH {_BF10_SQL},
    emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    assigned AS (
      SELECT e.vec_id AS cand_id, e.embedding AS c_vec,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    probes AS (
      SELECT query_id, q_vec, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_KM_DIST.format(a='q.v', b='c.vec')}, c.cid)
                 AS r
        FROM emb q CROSS JOIN c1 c
        WHERE q.vec_id < 5
      ) WHERE r <= 2
    ),
    ivf_km AS (
      SELECT query_id, cand_id FROM (
        SELECT p.query_id, a.cand_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_COS_SQL.format(a='p.q_vec', b='a.c_vec')} DESC,
                          a.cand_id) AS rank
        FROM assigned a JOIN probes p USING (cid)
        WHERE a.cand_id <> p.query_id
      ) WHERE rank <= 10
    ),
    subvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM emb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(_PQ_K, '')},
    {_pq_sql_ctes(16, '_k16')},
    {_pq_sql_ctes(16, '_t16', train=True)},
    pq_adc AS (
      SELECT query_id, cand_id FROM pq_ranked WHERE rank <= 10
    ),
    pq_adc_k16 AS (
      SELECT query_id, cand_id FROM pq_ranked_k16 WHERE rank <= 10
    ),
    pq_adc_t16 AS (
      SELECT query_id, cand_id FROM pq_ranked_t16 WHERE rank <= 10
    )
    {_recall_row_sql('ivf_km')}
    UNION ALL
    {_recall_row_sql('pq_adc')}
    UNION ALL
    {_recall_row_sql('pq_adc_k16')}
    UNION ALL
    {_recall_row_sql('pq_adc_t16')}
    ORDER BY method
    """,
    doc="recall gate for the TRAINED index paths: recall@10 of "
    "trained-centroid IVF (1 Lloyd round, n_probe=2) and PQ "
    "asymmetric-distance search at TWO operating points (m=4 with k=4 "
    "and k=16 codewords) against the exact brute-force top-10 — "
    "completes ann_recall_at_k's curve (which gates multiband LSH and "
    "the stand-in IVF) so every search path in the ANN stack carries a "
    "driver-gated quality number. The k=4/k=16 pair reports the "
    "compression/accuracy CURVE, not one number: 2 bits/subspace is "
    "deliberately coarse (its recall documents what 32-byte-to-2-byte "
    "compression costs), 4 bits buys the recall back at 2x code size — "
    "exactly the trade a 100 TB index sizes with m/k",
)
def ann_recall_trained(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    qs = emb.filter(F.col("vec_id") < 5)
    bf = (
        S.brute_force_topk(emb, qs, k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))

    def leg(df, method):
        hits = (
            df.select("query_id", "cand_id")
            .join(bf, ["query_id", "cand_id"], "semi")
            .agg(F.count(F.lit(1)).alias("hits"))
            .withColumn("method", F.lit(method))
        )
        return hits.crossJoin(total)

    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    t16 = _pq_trained_cached(spark, base, f"pqt16_raw:{sf_dir}")
    cent = _ivf_centroids_cached(spark, emb, sf_dir)
    out = (
        leg(_ivf_kmeans_topk(emb, k=10, cent=cent), "ivf_km")
        .unionAll(
            leg(
                _pq_adc_topk(
                    None,
                    k=10,
                    k_codes=_PQ_K,
                    parts=_pq_trained_cached(
                        spark,
                        base,
                        f"pqu4:{sf_dir}",
                        k_codes=_PQ_K,
                        train=False,
                    ),
                ),
                "pq_adc",
            )
        )
        .unionAll(
            leg(
                _pq_adc_topk(
                    None,
                    k=10,
                    k_codes=16,
                    parts=_pq_trained_cached(
                        spark,
                        base,
                        f"pqu16:{sf_dir}",
                        k_codes=16,
                        train=False,
                    ),
                ),
                "pq_adc_k16",
            )
        )
        .unionAll(
            leg(_pq_adc_topk(None, k=10, k_codes=16, parts=t16), "pq_adc_t16")
        )
    )
    return out.select(
        "method",
        "hits",
        "total",
        F.round(F.col("hits").cast("double") / F.col("total"), 6).alias(
            "recall"
        ),
    ).orderBy("method")


def _trunc_pairs_sql(d: int) -> str:
    a, b = f"q.embedding[1:{d}]", f"c.embedding[1:{d}]"
    return f"""
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {_COS_SQL.format(a=a, b=b)} AS cosine
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) s QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id) <= 10
    """


@register(
    "ann_truncation_recall",
    f"""
    WITH bf AS ({_trunc_pairs_sql(64)}),
    d16 AS ({_trunc_pairs_sql(16)}),
    d32 AS ({_trunc_pairs_sql(32)})
    SELECT dim, hits, total,
           ROUND(CAST(hits AS DOUBLE) / total, 6) AS recall
    FROM (
      SELECT 16 AS dim,
             (SELECT COUNT(*) FROM d16 JOIN bf USING (query_id, cand_id))
               AS hits,
             (SELECT COUNT(*) FROM bf) AS total
      UNION ALL
      SELECT 32,
             (SELECT COUNT(*) FROM d32 JOIN bf USING (query_id, cand_id)),
             (SELECT COUNT(*) FROM bf)
      UNION ALL
      SELECT 64,
             (SELECT COUNT(*) FROM bf),
             (SELECT COUNT(*) FROM bf)
    )
    ORDER BY dim
    """,
    doc="embedding-dimension truncation recall curve (the matryoshka-"
    "representation practice: store/search a PREFIX of each vector, "
    "trade dimensions for memory and FLOPs): recall@10 of cosine "
    "brute-force over the first 16/32/64 dims against the full-dim "
    "ranking. Same dataflow as ann_bruteforce_topk per leg (broadcast "
    "5 queries x corpus, per-query rank window) with F.slice doing the "
    "truncation before the dot product — at scale this is the cheap "
    "first-pass filter in a two-stage cascade (truncated scan -> "
    "full-dim re-rank of survivors). The 64-dim leg is the identity "
    "anchor (recall 1.0 by construction); the curve is the measured "
    "price of each truncation on this corpus",
)
def ann_truncation_recall(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    bf = (
        S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))

    def leg(d):
        t = emb.withColumn("embedding", F.slice("embedding", 1, d))
        pairs = S.brute_force_topk(
            t, t.filter(F.col("vec_id") < 5), k=10
        ).select("query_id", "cand_id")
        return (
            pairs.join(bf, ["query_id", "cand_id"], "semi")
            .agg(F.count(F.lit(1)).alias("hits"))
            .withColumn("dim", F.lit(d))
            .crossJoin(F.broadcast(total))
        )

    out = leg(16).unionAll(leg(32)).unionAll(leg(64))
    return out.select(
        "dim",
        "hits",
        "total",
        F.round(F.col("hits").cast("double") / F.col("total"), 6).alias(
            "recall"
        ),
    ).orderBy("dim")


@register(
    "ann_cascade_rerank",
    f"""
    WITH short AS (
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {_COS_SQL.format(a='q.embedding[1:16]', b='c.embedding[1:16]')}
                 AS cosine
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) s QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id) <= 50
    ),
    rr AS (
      SELECT query_id, cand_id FROM (
        SELECT s.query_id, s.cand_id,
               {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.cand_id
      ) t QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, cand_id) <= 10
    ),
    bf AS ({_trunc_pairs_sql(64)}),
    d16 AS ({_trunc_pairs_sql(16)})
    SELECT CAST(50 AS INT) AS shortlist_m,
           (SELECT COUNT(*) FROM d16 JOIN bf USING (query_id, cand_id))
             AS hits_direct,
           (SELECT COUNT(*) FROM rr JOIN bf USING (query_id, cand_id))
             AS hits_cascade,
           (SELECT COUNT(*) FROM bf) AS total,
           ROUND(CAST((SELECT COUNT(*) FROM d16 JOIN bf
                       USING (query_id, cand_id)) AS DOUBLE)
                 / (SELECT COUNT(*) FROM bf), 6) AS recall_direct,
           ROUND(CAST((SELECT COUNT(*) FROM rr JOIN bf
                       USING (query_id, cand_id)) AS DOUBLE)
                 / (SELECT COUNT(*) FROM bf), 6) AS recall_cascade
    """,
    doc="the two-stage cascade ann_truncation_recall's curve priced (r6 "
    "verdict optional (c)): stage 1 scans the CHEAP 16-dim prefix and "
    "keeps a 50-candidate shortlist per query (4x less FLOPs and memory "
    "bandwidth than full-dim); stage 2 re-scores ONLY the shortlist at "
    "full 64 dims and keeps the top-10.  Output pins recall@10 of the "
    "direct truncated search (recall_direct — the price of stopping at "
    "stage 1) against the cascade (recall_cascade — what the rerank buys "
    "back); tests/test_quality_gates.py floors the lift.  Scale shape: "
    "stage 1 is the same broadcast-queries x corpus scan as "
    "ann_bruteforce_topk but on a quarter of the bytes (at 100 TB the "
    "prefix column is a separate narrow parquet column — column pruning "
    "reads ONLY it); stage 2 touches 50 rows per query however large the "
    "corpus, joined by id against the full-width table",
)
def ann_cascade_rerank(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 5)
    t = emb.withColumn("embedding", F.slice("embedding", 1, 16))
    tq = q.withColumn("embedding", F.slice("embedding", 1, 16))

    # stage 1: truncated scan, 50-candidate shortlist (rank column kept so
    # the direct-search top-10 is the same scan's prefix, scanned once)
    short = S.brute_force_topk(t, tq, k=50).localCheckpoint(eager=True)
    d16 = short.filter(F.col("rank") <= 10).select("query_id", "cand_id")

    # stage 2: full-dim re-rank of the shortlist only
    cvec = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_vec"))
    qvec = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    rr = (
        short.select("query_id", "cand_id")
        .join(cvec, "cand_id")
        .join(broadcast(qvec), "query_id")
        .select(
            "query_id", "cand_id",
            S.cosine_expr("q_vec", "c_vec").alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "cand_id")
    )

    bf = (
        S.brute_force_topk(emb, q, k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))
    hits_d = (
        d16.join(bf, ["query_id", "cand_id"], "semi")
        .agg(F.count(F.lit(1)).alias("hits_direct"))
    )
    hits_c = (
        rr.join(bf, ["query_id", "cand_id"], "semi")
        .agg(F.count(F.lit(1)).alias("hits_cascade"))
    )
    return (
        hits_d.crossJoin(broadcast(hits_c))
        .crossJoin(broadcast(total))
        .select(
            F.lit(50).cast("int").alias("shortlist_m"),
            "hits_direct",
            "hits_cascade",
            "total",
            F.round(F.col("hits_direct").cast("double") / F.col("total"), 6)
            .alias("recall_direct"),
            F.round(F.col("hits_cascade").cast("double") / F.col("total"), 6)
            .alias("recall_cascade"),
        )
    )


@register(
    "semantic_dedup_buckets",
    """
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1]  >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN embedding[17] >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN embedding[33] >= 0 THEN '1' ELSE '0' END) ||
             (CASE WHEN embedding[49] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM embeddings
    ),
    dup AS (
      SELECT DISTINCT c.vec_id
      FROM b a JOIN b c
        ON a.bucket = c.bucket AND a.vec_id < c.vec_id
      WHERE ROUND(list_dot_product(a.v, c.v) /
                  (sqrt(list_dot_product(a.v, a.v)) *
                   sqrt(list_dot_product(c.v, c.v))), 4) >= 0.40
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM b LEFT JOIN dup d ON b.vec_id = d.vec_id
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="SemDeDup-style semantic deduplication over the embedding column: "
    "vectors are coarsely partitioned by a sign-bit LSH bucket "
    "(operators/similarity.lsh_bucket_expr — the stand-in for the "
    "k-means cluster assignment real SemDeDup uses), pairwise cosine is "
    "computed ONLY within a bucket, and a vector is dropped when an "
    "earlier (smaller-id) bucket-mate sits above the threshold — the "
    "deterministic keep-first rule, one anti-join. tau = 0.40 marks the "
    "synthetic corpus's top percentile (its random vectors have no true "
    "near-dups; production embeddings use ~0.95+ — the constant, not "
    "the dataflow, changes). Scale: candidate pairs exist only inside "
    "(bucket), so cost is sum over buckets of n_b^2, not N^2; with "
    "k-means buckets this is exactly SemDeDup's cost model, and the "
    "bucket key is a zero-shuffle projection.",
)
def semantic_dedup_buckets(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    # norm precomputed ONCE per vector (norm_a = sqrt(dot(a,a)) exactly, so
    # dot/(na*nb) is bit-identical to the oracle's three-dot formulation)
    # — each candidate pair costs one dot product instead of three
    b = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        S.lsh_bucket_expr("embedding").alias("bucket"),
    ).withColumn(
        "nrm",
        F.expr(
            "sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), 0D, "
            "(acc, w) -> acc + w))"
        ),
    )
    a, c = b.alias("a"), b.alias("c")
    dot = F.expr(
        "aggregate(zip_with(a.v, c.v, (x, y) -> x * y), 0D, "
        "(acc, w) -> acc + w)"
    )
    dup = (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .filter(
            F.round(dot / (F.col("a.nrm") * F.col("c.nrm")), 4) >= 0.40
        )
        .select(F.col("c.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        b.join(dup.withColumnRenamed("vec_id", "dup_id"),
               F.col("vec_id") == F.col("dup_id"), "left")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            (F.count(F.lit(1)) - F.count("dup_id")).cast("bigint").alias("n_kept"),
        )
        .orderBy("bucket")
    )


_RRF_LEG = """
      SELECT query_id, cand_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, cand_id) AS INT) AS rk
      FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               ROUND(list_dot_product(CAST(q.embedding[1:{d}] AS DOUBLE[]),
                                      CAST(c.embedding[1:{d}] AS DOUBLE[])) /
                     (sqrt(list_dot_product(CAST(q.embedding[1:{d}] AS DOUBLE[]),
                                            CAST(q.embedding[1:{d}] AS DOUBLE[]))) *
                      sqrt(list_dot_product(CAST(c.embedding[1:{d}] AS DOUBLE[]),
                                            CAST(c.embedding[1:{d}] AS DOUBLE[])))),
                     4) AS cosine
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) s
      QUALIFY rk <= 20
"""


@register(
    "rrf_hybrid_retrieval",
    f"""
    WITH full_leg AS ({_RRF_LEG.format(d=64)}),
    trunc_leg AS ({_RRF_LEG.format(d=16)}),
    fused AS (
      SELECT COALESCE(f.query_id, t.query_id) AS query_id,
             COALESCE(f.cand_id, t.cand_id) AS cand_id,
             ROUND(COALESCE(1.0 / (60 + f.rk), 0.0)
                   + COALESCE(1.0 / (60 + t.rk), 0.0), 6) AS rrf
      FROM full_leg f
      FULL OUTER JOIN trunc_leg t
        ON f.query_id = t.query_id AND f.cand_id = t.cand_id
    )
    SELECT query_id, cand_id, rrf,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf DESC, cand_id) AS INT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= 10
    ORDER BY query_id, fused_rank
    """,
    doc="RECIPROCAL RANK FUSION (k=60, the hybrid-retrieval standard): two "
    "independent top-20 rankings per query — full 64-dim cosine and the "
    "16-dim matryoshka truncation (a stand-in for any second retriever: "
    "BM25, a different encoder) — fused by score = sum of 1/(60+rank) "
    "over the lists a candidate appears in (full outer join; absent "
    "leg contributes 0), re-ranked to a fused top-10. Rank positions "
    "are integers, so the two-term reciprocal sum is engine-exact at "
    "ROUND 6. Scale: each leg is an existing bounded top-k (broadcast "
    "queries, per-task heaps); the fusion join touches only "
    "O(queries x k) rows — fusing never re-scores the corpus.",
)
def rrf_hybrid_retrieval(spark, sf_dir):
    from pyspark.sql import Window

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))

    def leg(dim):
        sliced = emb.select(
            "vec_id",
            F.expr(
                f"transform(slice(embedding, 1, {dim}), x -> CAST(x AS DOUBLE))"
            ).alias("v"),
        )
        q = (
            sliced.filter(F.col("vec_id") < 5)
            .withColumnRenamed("vec_id", "query_id")
            .withColumnRenamed("v", "q_vec")
        )
        c = (
            sliced.withColumnRenamed("vec_id", "cand_id")
            .withColumnRenamed("v", "c_vec")
        )
        pairs = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("query_id") != F.col("cand_id"))
            .select(
                "query_id",
                "cand_id",
                S.cosine_expr("q_vec", "c_vec").alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.col("cand_id")
        )
        return (
            pairs.withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= 20)
            .select("query_id", "cand_id", "rk")
        )

    f_leg, t_leg = leg(64).alias("f"), leg(16).alias("t")
    fused = (
        f_leg.join(
            t_leg,
            (F.col("f.query_id") == F.col("t.query_id"))
            & (F.col("f.cand_id") == F.col("t.cand_id")),
            "full_outer",
        )
        .select(
            F.coalesce("f.query_id", "t.query_id").alias("query_id"),
            F.coalesce("f.cand_id", "t.cand_id").alias("cand_id"),
            F.round(
                F.coalesce(1.0 / (60 + F.col("f.rk")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("t.rk")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "cand_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("fused_rank") <= 10)
        .select("query_id", "cand_id", "rrf", "fused_rank")
        .orderBy("query_id", "fused_rank")
    )


@register(
    "ann_index_persisted_probe",
    _IVF_KM_SQL,
    doc="PERSISTED ANN index (index-as-a-table, the serving half of IVF): "
    "the trained coarse quantizer and the corpus assignment are WRITTEN "
    "once — assignments partitioned BY LIST ID (cid) — and the probe "
    "phase reads the index back touching only the probed partitions: "
    "the probe lists (n_queries x n_probe cids, 10 values here) are "
    "fetched planner-style and pushed as a static partition filter, so "
    "the scan lists exactly those cid= directories (plan-tested "
    "PartitionFilters; at 100 TB that is reading corpus/n_lists x "
    "n_probe instead of the corpus). Search results must be IDENTICAL "
    "to the in-memory trained-IVF query (ann_ivf_kmeans_topk — same "
    "oracle SQL verbatim): persistence must never change retrieval. "
    "This is the build-once/probe-many lifecycle every vector-serving "
    "system runs; with Delta the index table would additionally get "
    "OPTIMIZE + time travel for free.",
)
def ann_index_persisted_probe(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    idx_root = os.path.join(
        tempfile.gettempdir(), f"nyetl_annidx_{os.getpid()}"
    )
    shutil.rmtree(idx_root, ignore_errors=True)

    # BUILD: train the quantizer, assign the corpus, persist both tables
    cent = _ivf_centroids_cached(spark, emb, sf_dir)
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("c_vec"),
            "cid",
        )
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(idx_root, "assignments"))
    )
    cent.write.mode("overwrite").parquet(os.path.join(idx_root, "centroids"))

    # PROBE: nearest n_probe lists per query from the persisted centroids
    cent_t = spark.read.parquet(os.path.join(idx_root, "centroids")).select(
        "cid", F.col("vec").alias("cent_vec")
    )
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
    # planner-style fetch of the probe lists (n_queries x n_probe values)
    # -> STATIC partition filter, so the index scan prunes to those dirs
    probe_cids = sorted({r["cid"] for r in probes.select("cid").collect()})
    idx_scan = spark.read.parquet(
        os.path.join(idx_root, "assignments")
    ).filter(F.col("cid").isin(probe_cids))

    scored = (
        idx_scan.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            S.cosine_expr("q_vec", "c_vec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


@register(
    "ann_index_filtered_probe",
    f"""
    WITH emb AS (
      SELECT vec_id, label, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    assigned AS (
      SELECT e.vec_id AS cand_id, e.label, e.embedding AS c_vec,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    probes AS (
      SELECT query_id, q_label, q_vec, cid FROM (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               q.embedding AS q_vec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_KM_DIST.format(a='q.v', b='c.vec')}, c.cid)
                 AS r
        FROM emb q CROSS JOIN c1 c
        WHERE q.vec_id < 5
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT p.query_id, p.q_label, a.cand_id,
             {_COS_SQL.format(a='p.q_vec', b='a.c_vec')} AS cosine
      FROM assigned a JOIN probes p USING (cid)
      WHERE a.cand_id <> p.query_id AND a.label = p.q_label
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, CAST(q_label AS INT) AS q_label, cand_id, cosine, rank
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="FILTERED ANN through the persisted index — the vector-database "
    "staple the plain probe lacks (every production vector store "
    "exposes 'top-k WHERE metadata predicate'): each query retrieves "
    "its top-5 among candidates sharing ITS OWN label, through the "
    "same build-once/probe-many IVF lifecycle as "
    "ann_index_persisted_probe (labels ride in the index as the "
    "filterable payload).  The filter composes with pruning at scan "
    "time: the probed cids push as PartitionFilters AND the union of "
    "query labels pushes as a PushedFilters rowgroup predicate "
    "(plan-tested), so at 100 TB the scan reads corpus/n_lists x "
    "n_probe rows pre-thinned by the label stats before the per-query "
    "equality join refines exactly.  Post-filter ranking is the "
    "standard deterministic (cosine DESC, cand_id).",
)
def ann_index_filtered_probe(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
    )
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    base = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    idx_root = os.path.join(
        tempfile.gettempdir(), f"nyetl_annfidx_{os.getpid()}"
    )
    shutil.rmtree(idx_root, ignore_errors=True)

    # BUILD: the persisted-probe lifecycle, with the filterable payload
    # (label) stored in the index
    cent = _ivf_centroids_cached(spark, emb, sf_dir)
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select(
            F.col("vec_id").alias("cand_id"),
            "label",
            F.col("embedding").alias("c_vec"),
            "cid",
        )
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(idx_root, "assignments"))
    )
    cent.write.mode("overwrite").parquet(os.path.join(idx_root, "centroids"))

    # PROBE: n_probe cells per query; the label predicate pushes to the
    # pruned scan as the UNION of query labels, then refines per query
    cent_t = spark.read.parquet(os.path.join(idx_root, "centroids")).select(
        "cid", F.col("vec").alias("cent_vec")
    )
    d = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        base.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_vec"),
            "_v",
        )
        .crossJoin(F.broadcast(cent_t))
        .select("query_id", "q_label", "q_vec", "cid", d.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= 2)
        .select("query_id", "q_label", "q_vec", "cid")
    ).localCheckpoint(eager=True)
    rows = probes.select("cid", "q_label").collect()
    probe_cids = sorted({r["cid"] for r in rows})
    probe_labels = sorted({r["q_label"] for r in rows})
    idx_scan = (
        spark.read.parquet(os.path.join(idx_root, "assignments"))
        .filter(F.col("cid").isin(probe_cids))
        .filter(F.col("label").isin(probe_labels))
    )

    scored = (
        idx_scan.join(F.broadcast(probes), "cid")
        .filter(
            (F.col("cand_id") != F.col("query_id"))
            & (F.col("label") == F.col("q_label"))
        )
        .select(
            "query_id",
            "q_label",
            "cand_id",
            S.cosine_expr("q_vec", "c_vec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            F.col("q_label").cast("int").alias("q_label"),
            "cand_id",
            "cosine",
            "rank",
        )
        .orderBy("query_id", "rank")
    )


_IVF_APPEND_SQL = f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb WHERE vec_id % 4 <> 0
            ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e WHERE e.vec_id % 4 <> 0
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    assigned AS (
      SELECT e.vec_id AS cand_id, e.embedding AS c_vec,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    probes AS (
      SELECT query_id, q_vec, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_KM_DIST.format(a='q.v', b='c.vec')}, c.cid)
                 AS r
        FROM emb q CROSS JOIN c1 c
        WHERE q.vec_id < 5
      ) WHERE r <= 2
    ),
    scored AS (
      SELECT p.query_id, a.cand_id,
             {_COS_SQL.format(a='p.q_vec', b='a.c_vec')} AS cosine
      FROM assigned a JOIN probes p USING (cid)
      WHERE a.cand_id <> p.query_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, cand_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, cand_id, cosine, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
"""


@register(
    "ann_index_incremental_append",
    _IVF_APPEND_SQL,
    doc="INCREMENTAL maintenance of the persisted ANN index — the "
    "build-once/append-many lifecycle a serving system actually runs "
    "(ann_index_persisted_probe extended): the quantizer is trained on "
    "the INITIAL corpus only (vec_id % 4 <> 0) and persisted with the "
    "initial assignments (partitioned by cid); the held-out quarter then "
    "arrives as a NEW BATCH, is assigned by the PERSISTED quantizer "
    "(read back from the index — the appender owns no trainer state) "
    "and APPENDED to the partitioned assignments table; the probe then "
    "runs partition-pruned against the appended table. The oracle is a "
    "FROM-SCRATCH rebuild (full-corpus assignment under the same "
    "centroids in one pass), so hash equality literally proves "
    "append == rebuild: appending must never change retrieval. At "
    "100 TB the append touches O(batch) rows + one partitioned write "
    "while rebuild touches the corpus — this equality is what makes "
    "the cheap path safe to run forever (with Delta, the same append "
    "is ACID and OPTIMIZE-compactable per partition).",
)
def ann_index_incremental_append(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
        kmeans_centroids,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    initial = base.filter((F.col("vec_id") % 4) != 0)
    new_batch = base.filter((F.col("vec_id") % 4) == 0)
    idx_root = tempfile.mkdtemp(prefix="nyetl_annidx_incr_")
    shutil.rmtree(idx_root, ignore_errors=True)
    assign_dir = os.path.join(idx_root, "assignments")

    def assign_and_write(part, cent_row, mode):
        (
            part.join(F.broadcast(cent_row), how="cross")
            .withColumn("cid", F.expr(_ARGMIN))
            .select(
                F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("c_vec"),
                "cid",
            )
            .write.mode(mode)
            .partitionBy("cid")
            .parquet(assign_dir)
        )

    # BUILD: train on the initial corpus only; persist index + quantizer
    cent = kmeans_centroids(
        emb.filter((F.col("vec_id") % 4) != 0), k=8, n_iter=1
    )
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    assign_and_write(initial, cent_row, "overwrite")
    cent.write.mode("overwrite").parquet(os.path.join(idx_root, "centroids"))

    # APPEND: the new batch is assigned by the PERSISTED quantizer (the
    # appender reads it back — no trainer state survives the build) and
    # lands in the same partitioned table as an append: O(batch) compute,
    # no touch of the existing partitions' files.
    cent_t = spark.read.parquet(os.path.join(idx_root, "centroids"))
    cent_row_persisted = cent_t.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    assign_and_write(new_batch, cent_row_persisted, "append")

    # PROBE: nearest n_probe=2 lists per query from the persisted
    # centroids, pushed as a static partition filter on the appended table
    d = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        base.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            "_v",
        )
        .crossJoin(
            F.broadcast(cent_t.select("cid", F.col("vec").alias("cent_vec")))
        )
        .select("query_id", "q_vec", "cid", d.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= 2)
        .select("query_id", "q_vec", "cid")
    )
    probe_cids = sorted({r["cid"] for r in probes.select("cid").collect()})
    idx_scan = spark.read.parquet(assign_dir).filter(
        F.col("cid").isin(probe_cids)
    )
    scored = (
        idx_scan.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            S.cosine_expr("q_vec", "c_vec").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


# Seeded +-1 sign for the JL projection matrix entry (j: input dim 1-64,
# k: output dim 0-15), identical md5-parity derivation on both engines
# (memory rule: CONV(hex,16,10) on Spark == ('0x'||substr)::BIGINT on
# DuckDB).  Sums are explicit LEFT FOLDS on both sides (Spark aggregate,
# DuckDB list_reduce) so the float addition order is pinned — list_sum's
# summation order is an implementation detail we refuse to depend on.
_JL_SIGN_SPARK = (
    "IF(CAST(conv(substr(md5(concat('jl|', CAST(j AS STRING), '|', "
    "CAST(k AS STRING))), 1, 1), 16, 10) AS BIGINT) % 2 = 0, "
    "CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE))"
)
_JL_SIGN_DUCK = (
    "(CASE WHEN (CAST(('0x' || substr(md5('jl|' || CAST(j AS VARCHAR) "
    "|| '|' || CAST(k AS VARCHAR)), 1, 1)) AS BIGINT) % 2) = 0 "
    "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
)


@register(
    "jl_projection_distortion",
    f"""
    WITH proj AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(range(0, 16), k ->
               list_reduce(list_transform(range(1, 65), j ->
                 CAST(embedding[j] AS DOUBLE) * {_JL_SIGN_DUCK}),
                 (acc, x) -> acc + x) / 4.0) AS p
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS ia,
             sqrt(list_reduce(list_transform(range(1, 65),
                  i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i])),
                  (acc, x) -> acc + x)) AS d_full,
             sqrt(list_reduce(list_transform(range(1, 17),
                  i -> (a.p[i] - b.p[i]) * (a.p[i] - b.p[i])),
                  (acc, x) -> acc + x)) AS d_proj
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 101
    ),
    r AS (
      SELECT CAST(ROUND(d_proj / d_full * 1000000) AS BIGINT) AS rt
      FROM pairs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(rt) AS DOUBLE) / COUNT(*) / 1000000, 6)
             AS mean_distortion,
           ROUND(MIN(rt) / 1000000.0, 6) AS min_distortion,
           ROUND(MAX(rt) / 1000000.0, 6) AS max_distortion,
           ROUND(CAST(SUM(CASE WHEN rt BETWEEN 800000 AND 1200000
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS frac_within_20pct
    FROM r
    """,
    doc="JOHNSON-LINDENSTRAUSS random projection 64 -> 16 dims with "
    "MEASURED distance distortion: the projection matrix is seeded "
    "+-1/sqrt(16) (Achlioptas signs from md5 parity — no matrix is "
    "stored or shipped, every executor derives entries locally, which "
    "is the 100 TB property: a dense random matrix never exists), "
    "applied as an in-JVM higher-order fold per row. Distortion "
    "||Pa-Pb|| / ||a-b|| over a deterministic pair sample "
    "(vec_id, vec_id+101) is quantized to a 1e-6 integer tick per pair "
    "BEFORE the cross-row aggregate (cross-row float sums are "
    "order-dependent; integer sums are not), giving mean/min/max and "
    "the within-+-20% fraction as driver-gated values — ~0.98 mean and "
    "~0.78 within-band at 4x compression, the textbook JL tradeoff. "
    "All folds are explicit LEFT folds on both engines so IEEE addition "
    "order is pinned. Downstream, this is the cheap front of every "
    "embedding pipeline here (ANN shortlists, LSH bucketing, dedup "
    "pre-filters) when 100 TB of float32 won't fit the budget.",
)
def jl_projection_distortion(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    # r16 (guide §4.2 / §1.2 — don't recompute constants per row): the
    # md5-parity sign matrix is a CONSTANT 16x64 table, but the seeded
    # expression sat inside the per-row projection lambda, so every row
    # re-derived all 1024 signs (~5M interpreted md5 calls per corpus
    # pass, twice — once per join side).  The signs are now derived ONCE
    # driver-side with the IDENTICAL md5-parity rule and inlined as a
    # literal array-of-arrays; the fold's shape, order and sign VALUES
    # are unchanged, so every double is bit-identical (oracle-verified).
    import hashlib

    sign_rows = []
    for k in range(16):
        vals = []
        for j in range(1, 65):
            parity = int(
                hashlib.md5(f"jl|{j}|{k}".encode()).hexdigest()[0], 16
            ) % 2
            vals.append(
                "CAST(1.0 AS DOUBLE)" if parity == 0
                else "CAST(-1.0 AS DOUBLE)"
            )
        sign_rows.append("array(" + ", ".join(vals) + ")")
    signs_sql = "array(" + ", ".join(sign_rows) + ")"

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    proj = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        F.expr(
            "transform(sequence(0, 15), k -> "
            "aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE), "
            "(acc, j) -> acc + CAST(element_at(embedding, j) AS DOUBLE) * "
            f"element_at(element_at({signs_sql}, k + 1), j)"
            ") / CAST(4.0 AS DOUBLE))"
        ).alias("p"),
    )
    a = proj.alias("a")
    b = proj.select(
        (F.col("vec_id") - F.lit(101)).alias("join_id"),
        F.col("v").alias("vb"),
        F.col("p").alias("pb"),
    ).alias("b")
    sq_fold = (
        "sqrt(aggregate(sequence(1, {n}), CAST(0.0 AS DOUBLE), "
        "(acc, i) -> acc + (element_at({x}, i) - element_at({y}, i)) "
        "* (element_at({x}, i) - element_at({y}, i))))"
    )
    pairs = a.join(b, F.col("a.vec_id") == F.col("b.join_id")).select(
        F.expr(sq_fold.format(n=64, x="a.v", y="b.vb")).alias("d_full"),
        F.expr(sq_fold.format(n=16, x="a.p", y="b.pb")).alias("d_proj"),
    )
    r = pairs.select(
        F.round(F.col("d_proj") / F.col("d_full") * 1_000_000)
        .cast("bigint")
        .alias("rt")
    )
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum("rt").cast("double") / F.count(F.lit(1)) / 1_000_000, 6
        ).alias("mean_distortion"),
        F.round(F.min("rt") / F.lit(1_000_000.0), 6).alias("min_distortion"),
        F.round(F.max("rt") / F.lit(1_000_000.0), 6).alias("max_distortion"),
        F.round(
            F.sum(F.col("rt").between(800_000, 1_200_000).cast("int"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_within_20pct"),
    )


def _gram_checkpointed(emb):
    """64x64 Gram as a checkpointed 4096-row table from ONE corpus pass
    (upper-triangle terms quantized at 12 dp, DECIMAL-summed, mirrored
    after the aggregate) — shared by gram_power_iteration_pc1 and
    gram_subspace_topk so the two queries cannot drift.

    spread_small_scan parallelizes the 2080-term explode when the corpus
    fits one split (no-op at scale); the per-(i, j) DECIMAL sums are
    order-independent, so values are placement-invariant."""
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    emb = spread_small_scan(emb)
    dec = "decimal(38,12)"
    terms = emb.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, 64), i -> "
                "transform(sequence(i, 64), j -> struct(i AS i, j AS j, "
                "round(CAST(element_at(embedding, i) AS DOUBLE) * "
                "CAST(element_at(embedding, j) AS DOUBLE), 12) AS p))))"
            )
        ).alias("t")
    ).select("t.i", "t.j", "t.p")
    g_half = terms.groupBy("i", "j").agg(
        F.sum(F.col("p").cast(dec)).cast("double").alias("g")
    )
    return (
        g_half.unionByName(
            g_half.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "g"
            )
        )
    ).localCheckpoint(eager=True)


def _gram_trace(emb):
    """Exact embedding-variance trace (one linear pass, decimal-summed)."""
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    emb = spread_small_scan(emb)
    dec = "decimal(38,12)"
    return emb.select(
        F.explode(
            F.expr(
                "transform(sequence(1, 64), i -> "
                "round(CAST(element_at(embedding, i) AS DOUBLE) * "
                "CAST(element_at(embedding, i) AS DOUBLE), 12))"
            )
        ).alias("p")
    ).agg(F.sum(F.col("p").cast(dec)).cast("double").alias("trace"))


def _decsum12(products):
    """Exact DECIMAL(38,12) sum of double products, returned as the
    correctly-rounded double — the driver-side replay of
    ``CAST(CAST(SUM(CAST(CAST(p AS VARCHAR) AS DECIMAL(38,12))) AS
    VARCHAR) AS DOUBLE)``: each product is quantized at 12 dp via its
    shortest decimal repr (Python ``repr`` == DuckDB double->VARCHAR ==
    Spark BigDecimal.valueOf) with HALF_UP, summed exactly as 1e-12
    integer units, and the unit count scaled back (exact scaleb, then
    Python's correctly-rounded Decimal->float — the same double the
    engines' DECIMAL->VARCHAR->DOUBLE route yields)."""
    import decimal

    with decimal.localcontext() as ctx:
        ctx.prec = 60
        q = decimal.Decimal("1E-12")
        units = 0
        for p in products:
            units += int(
                decimal.Decimal(repr(p))
                .quantize(q, rounding=decimal.ROUND_HALF_UP)
                .scaleb(12)
            )
        return float(decimal.Decimal(units).scaleb(-12))


def _gram_norm_of(y_df):
    """Ordered left-fold 2-norm of a (i, y) vector table (== DuckDB
    list_reduce over list(... ORDER BY i))."""
    return y_df.agg(
        F.sqrt(
            F.expr(
                "aggregate(array_sort(collect_list(struct(i, y))), "
                "CAST(0.0 AS DOUBLE), (a, s) -> a + s.y * s.y)"
            )
        ).alias("n")
    )


def _gram_iter_sql(t: int, p: int) -> str:
    v = "CAST(CAST(SUM(CAST(ROUND(g.g * xx.x, 12) AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    return f"""
    y{t} AS (
      SELECT g.i, {v} AS y
      FROM g JOIN x{p} xx ON g.j = xx.i GROUP BY g.i
    ),
    n{t} AS (
      SELECT sqrt(list_reduce(list(y * y ORDER BY i), (a, b) -> a + b)) AS n
      FROM y{t}
    ),
    x{t} AS (
      SELECT y{t}.i, ROUND(y{t}.y / n{t}.n, 12) AS x FROM y{t}, n{t}
    )"""


_GRAM_PC1_SQL = f"""
    WITH g AS (
      SELECT i, j,
             CAST(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                  * CAST(embedding[j] AS DOUBLE), 12) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS g
      FROM embeddings, range(1, 65) ri(i), range(1, 65) rj(j)
      GROUP BY i, j
    ),
    x0 AS (SELECT i, 0.125 AS x FROM range(1, 65) t(i)),
    {_gram_iter_sql(1, 0)},
    {_gram_iter_sql(2, 1)},
    {_gram_iter_sql(3, 2)},
    tr AS (
      SELECT CAST(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                  * CAST(embedding[i] AS DOUBLE), 12) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS trace
      FROM embeddings, range(1, 65) ri(i)
    ),
    top AS (
      SELECT i AS top_coord, ROUND(x, 6) AS top_coord_val
      FROM (SELECT *, row_number() OVER (ORDER BY abs(x) DESC, i) AS r
            FROM x3)
      WHERE r = 1
    )
    SELECT ROUND(n3.n, 6) AS lambda_top,
           ROUND(tr.trace, 6) AS trace_total,
           ROUND(n3.n / tr.trace, 6) AS pc1_explained_frac,
           CAST(top.top_coord AS INT) AS top_coord,
           top.top_coord_val
    FROM n3, tr, top
"""


@register(
    "gram_power_iteration_pc1",
    _GRAM_PC1_SQL,
    doc="DISTRIBUTED PCA by power iteration: the 64x64 embedding GRAM "
    "matrix is ONE map-side-combined aggregate (per-row outer-product "
    "terms quantized at 12 dp, DECIMAL-summed — cross-row order-free, "
    "the corpus is touched exactly once), then three matrix-vector "
    "power steps run as 4096-row-by-64-row broadcast joins — the "
    "iteration never sees the corpus again, which is the entire 100 TB "
    "story: reduce to O(d^2) sufficient statistics, iterate on THAT. "
    "Per-step normalization is an ordered left fold (Spark "
    "aggregate over an array_sort'ed collect_list == DuckDB "
    "list_reduce over list(... ORDER BY i)) and the unit vector is "
    "re-quantized at 12 dp each step so both engines walk bit-identical "
    "iterates. Outputs: lambda_1 estimate (||G x|| after 3 steps), "
    "exact trace (= total variance; = n_rows for unit-norm "
    "embeddings), PC1 explained fraction (~2% here — the corpus is "
    "near-isotropic, and the gate records that number instead of "
    "assuming structure), dominant coordinate. The oracle unrolls the "
    "identical three steps in CTEs.",
)
def gram_power_iteration_pc1(spark, sf_dir):
    from pyspark.sql import Window

    dec = "decimal(38,12)"
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    # one-pass Gram over the UPPER TRIANGLE only (2080 terms/row instead
    # of 4096 — G is symmetric and round(v_i*v_j) == round(v_j*v_i)
    # exactly, so mirroring after the aggregate is value-identical to
    # the full grid the oracle computes), then decimal-sum per (i, j)
    g = _gram_checkpointed(emb)
    norm_of = _gram_norm_of

    x = spark.range(1, 65).select(
        F.col("id").cast("int").alias("i"), F.lit(0.125).alias("x")
    )
    for _ in range(3):
        # checkpoint each 64-row iterate: x is referenced by BOTH the next
        # matvec and its own normalizer, and without truncation the lazy
        # tree re-evaluates every earlier step once per reference
        # (2^steps blowup of tiny-but-overheadful jobs)
        y = (
            g.join(F.broadcast(x.select(F.col("i").alias("j"), "x")), "j")
            .groupBy("i")
            .agg(
                F.sum(F.round(F.col("g") * F.col("x"), 12).cast(dec))
                .cast("double")
                .alias("y")
            )
        ).localCheckpoint(eager=True)
        n = norm_of(y)
        x = (
            y.crossJoin(F.broadcast(n))
            .select("i", F.round(F.col("y") / F.col("n"), 12).alias("x"))
            .localCheckpoint(eager=True)
        )
        last_norm = n
    tr = _gram_trace(emb)
    top = (
        x.withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.abs(F.col("x")).desc(), "i")),
        )
        .filter(F.col("r") == 1)
        .select(
            F.col("i").cast("int").alias("top_coord"),
            F.round("x", 6).alias("top_coord_val"),
        )
    )
    return (
        last_norm.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(top))
        .select(
            F.round(F.col("n"), 6).alias("lambda_top"),
            F.round(F.col("trace"), 6).alias("trace_total"),
            F.round(F.col("n") / F.col("trace"), 6).alias("pc1_explained_frac"),
            "top_coord",
            "top_coord_val",
        )
    )


# Fixed size of the kNN-evaluation query sample (shared by the two exact
# evaluators, the indexed twin, and their oracles — the SQL LIMIT below
# must match).
_EVAL_QUERY_N = 512


def _fixed_n_queries(emb, n=_EVAL_QUERY_N):
    """Fixed-N query sample by md5(vec_id) order (the exact_n_sample
    discipline; clamps to the corpus when smaller).  Spark plans the
    orderBy+limit as TakeOrderedAndProject — a per-task top-N heap, one
    linear scan, no global sort — so the draw AND the crossJoin broadcast
    side built from it are O(N) at any corpus size.  Replaces the 1-in-5
    modulus slice whose size grew with the corpus (r8 verdict: a fraction
    cap never stops being quadratic).

    The N-row result is ``localCheckpoint``-ed (eager): every consumer —
    the indexed twin drives the sample through a centroid probe, a
    partition-pruned index join AND a brute-force leg — reuses the
    materialized rows instead of re-running the corpus-wide TakeOrdered
    per job (r9 watch item: the sample was recomputed per consumer).
    Pass the RAW table projection here and derive per-vector norms etc.
    AFTER — enrichment columns projected below the heap are computed
    corpus-wide on this branch; on ≤N checkpointed rows they are free."""
    return (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n)
        .localCheckpoint()
    )


@register(
    "knn_label_accuracy",
    f"""
    WITH qs AS (
      SELECT vec_id, label, embedding
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 512
    ),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.vec_id AS cand_id, c.label AS pred_label,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM qs q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    nn AS (
      SELECT query_id, true_label, pred_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, cand_id) AS r
        FROM scored
      ) WHERE r = 1
    )
    SELECT CAST(true_label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(CAST(SUM(CASE WHEN pred_label = true_label
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM nn
    GROUP BY true_label
    ORDER BY label
    """,
    doc="1-NN LABEL ACCURACY, leave-one-out (the evaluation harness of "
    "every embedding space: if nearest neighbors don't share labels, no "
    "retrieval stack built on the space will): a FIXED-N query sample "
    "(512 by md5(vec_id) order — the exact_n_sample discipline; clamps "
    "to the corpus when smaller) is classified by each query's nearest "
    "OTHER vector's label, per-class accuracy out. Fixed N is the scale "
    "contract (r8 verdict): work is O(N x corpus), one linear corpus "
    "scan, and the broadcast side is O(N) AT ANY SCALE — the earlier "
    "1-in-5 modulus slice kept both terms proportional to the corpus "
    "(O(n^2/5) compute, O(n/5) broadcast: quadratic forever, OOM at "
    "100x). Deterministic ranking: cosine at 4 dp, ties by candidate "
    "id — the exact discipline of the ANN family whose quality this "
    "measures. knn_label_accuracy_indexed runs the SAME evaluation "
    "with the persisted IVF index as candidate generator; the accuracy "
    "delta between the two IS the index's quality cost. Near-chance "
    "accuracy here (isotropic synthetic embeddings, 4 labels) is the "
    "recorded truth of this corpus, not a defect.",
)
def knn_label_accuracy(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.similarity import _DOT

    # norms precomputed ONCE per vector (the semantic_dedup_buckets r7
    # lesson: one dot per pair, not three) — sqrt(dot(v,v)) here is the
    # same expression subtree cosine_expr would inline per pair, so the
    # rounded cosine is bit-identical to the oracle's formulation.  The
    # sample draws from the RAW read and derives its norms on the 512
    # checkpointed rows — one corpus-wide norm pass (candidate side),
    # not two (r9 watch item).  spread_small_scan parallelizes the
    # crossjoin stage when the corpus fits one split (no-op at scale).
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    raw = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    nrm = F.expr(f"sqrt({_DOT.format(a='embedding', b='embedding')})")
    q = _fixed_n_queries(raw).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_vec"),
        nrm.alias("q_nrm"),
    )
    c = raw.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("pred_label"),
        F.col("embedding").alias("c_vec"),
        nrm.alias("c_nrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "cand_id",
            "pred_label",
            F.expr(
                f"round({_DOT.format(a='q_vec', b='c_vec')}"
                " / (q_nrm * c_nrm), 4)"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    nn = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", "true_label", "pred_label")
    )
    hit = (F.col("pred_label") == F.col("true_label")).cast("int")
    return (
        nn.groupBy(F.col("true_label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.sum(hit).cast("double") / F.count(F.lit(1)), 6)
            .alias("accuracy"),
        )
        .orderBy("label")
    )


@register(
    "label_noise_consensus",
    f"""
    WITH qs AS (
      SELECT vec_id, label, embedding
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 512
    ),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.vec_id AS cand_id, c.label AS pred_label,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM qs q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    nn AS (
      SELECT query_id, true_label,
             CAST(SUM(CASE WHEN pred_label <> true_label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_disagree
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, cand_id) AS r
        FROM scored
      ) WHERE r <= 3
      GROUP BY query_id, true_label
    )
    SELECT CAST(true_label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN n_disagree >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           ROUND(CAST(SUM(n_disagree) AS DOUBLE) / (3 * COUNT(*)), 6)
             AS avg_disagree_frac
    FROM nn GROUP BY true_label ORDER BY label
    """,
    doc="LABEL-NOISE detection by neighborhood consensus (the "
    "confident-learning primitive of dataset curation): each query "
    "vector's 3 nearest neighbors vote, and a point whose majority "
    "disagrees with its own label is flagged as suspected noise — "
    "per-class flag counts and the mean disagreement fraction out. On "
    "these isotropic synthetic embeddings the disagreement sits at the "
    "4-class chance level (~0.75) and the flag rate near its binomial "
    "expectation — the gate RECORDS the no-signal baseline; on a real "
    "space the flagged slice is the relabel/drop queue. Same fixed-N "
    "(512, md5-order) exact kNN machinery as knn_label_accuracy — "
    "O(N x corpus) work, O(N) broadcast at any scale — with "
    "precomputed norms and deterministic cosine/id ranking; integer "
    "disagreement sums, one final division.",
)
def label_noise_consensus(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.similarity import _DOT

    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    raw = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    nrm = F.expr(f"sqrt({_DOT.format(a='embedding', b='embedding')})")
    q = _fixed_n_queries(raw).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_vec"),
        nrm.alias("q_nrm"),
    )
    c = raw.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("pred_label"),
        F.col("embedding").alias("c_vec"),
        nrm.alias("c_nrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "cand_id",
            "pred_label",
            F.expr(
                f"round({_DOT.format(a='q_vec', b='c_vec')}"
                " / (q_nrm * c_nrm), 4)"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "cand_id")
    nn = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .groupBy("query_id", "true_label")
        .agg(
            F.sum((F.col("pred_label") != F.col("true_label")).cast("int"))
            .cast("bigint")
            .alias("n_disagree")
        )
    )
    return (
        nn.groupBy(F.col("true_label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum((F.col("n_disagree") >= 2).cast("int")).cast("bigint")
            .alias("n_flagged"),
            F.round(
                F.sum("n_disagree").cast("double")
                / (3 * F.count(F.lit(1))),
                6,
            ).alias("avg_disagree_frac"),
        )
        .orderBy("label")
    )


_KNN_IDX_EVAL_SQL = f"""
    WITH emb AS (
      SELECT vec_id, label, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    assigned AS (
      SELECT e.vec_id AS cand_id, e.label AS pred_label,
             e.embedding AS c_vec,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    qs AS (
      SELECT vec_id, label, embedding, v
      FROM emb
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 512
    ),
    probes AS (
      SELECT query_id, q_vec, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_KM_DIST.format(a='q.v', b='c.vec')}, c.cid)
                 AS r
        FROM qs q CROSS JOIN c1 c
      ) WHERE r <= 2
    ),
    idx_nn AS (
      SELECT query_id, cand_id AS idx_cand, pred_label AS idx_pred FROM (
        SELECT p.query_id, a.cand_id, a.pred_label,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_COS_SQL.format(a='p.q_vec', b='a.c_vec')} DESC,
                          a.cand_id) AS r
        FROM assigned a JOIN probes p USING (cid)
        WHERE a.cand_id <> p.query_id
      ) WHERE r = 1
    ),
    exact_nn AS (
      SELECT query_id, true_label, cand_id AS exact_cand,
             pred_label AS exact_pred FROM (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               c.vec_id AS cand_id, c.label AS pred_label,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL.format(a='q.embedding',
                                           b='c.embedding')} DESC,
                          c.vec_id) AS r
        FROM qs q JOIN emb c ON c.vec_id <> q.vec_id
      ) WHERE r = 1
    )
    SELECT CAST(e.true_label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN e.exact_pred = e.true_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_exact,
           CAST(SUM(CASE WHEN i.idx_pred = e.true_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_index,
           CAST(SUM(CASE WHEN i.idx_cand = e.exact_cand
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nn_agree,
           ROUND(CAST(SUM(CASE WHEN e.exact_pred = e.true_label
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy_exact,
           ROUND(CAST(SUM(CASE WHEN i.idx_pred = e.true_label
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy_index,
           ROUND((CAST(SUM(CASE WHEN e.exact_pred = e.true_label
                                THEN 1 ELSE 0 END) AS DOUBLE)
                  - CAST(SUM(CASE WHEN i.idx_pred = e.true_label
                                  THEN 1 ELSE 0 END) AS DOUBLE))
                 / COUNT(*), 6) AS accuracy_delta
    FROM exact_nn e LEFT JOIN idx_nn i USING (query_id)
    GROUP BY e.true_label
    ORDER BY label
"""


@register(
    "knn_label_accuracy_indexed",
    _KNN_IDX_EVAL_SQL,
    doc="INDEX-PROBE evaluation twin of knn_label_accuracy (the "
    "measurement its docstring promises, r8 verdict item): the SAME "
    "fixed-N (512, md5-order) query sample is 1-NN-classified twice — "
    "once brute-force against the whole corpus (the exact baseline, "
    "O(N x corpus)) and once with candidates generated by the PERSISTED "
    "IVF index of ann_index_persisted_probe (same trained quantizer, "
    "k=8 lists / 1 k-means iteration, assignments partitioned by cid, "
    "n_probe=2 lists per query pushed as a static partition filter). "
    "Per class: both accuracies, their DELTA (the index's measured "
    "quality cost — the number a serving team actually tracks), and the "
    "exact-vs-index nearest-neighbor agreement count (recall@1 of the "
    "index, the per-query twin of ann_recall_at_k's gate). A query "
    "whose probed lists hold no candidate counts as wrong and "
    "non-agreeing (LEFT JOIN, NULL never equals). Scale shape: one "
    "corpus pass to assign, one O(N) TakeOrdered draw, O(N) broadcasts "
    "into both candidate joins; nothing quadratic in the corpus.",
)
def knn_label_accuracy_indexed(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
    )
    from newyork_taxi_etl_spark.operators.similarity import _DOT

    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    # spread_small_scan: parallelize the assignment/eval stages when the
    # corpus fits one split (structural no-op at scale)
    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    # norms precomputed ONCE per vector and STORED IN THE INDEX (a
    # serving index carries them for exactly this reason) — one dot per
    # pair instead of cosine_expr's three; sqrt(dot(v,v)) is the same
    # expression subtree, so the rounded cosine is bit-identical to the
    # oracle's inline formulation (the r7 semantic_dedup_buckets lesson;
    # measured 20s -> ~7s on the sf0.1 bench for this query)
    base = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
        F.expr(
            f"sqrt({_DOT.format(a='embedding', b='embedding')})"
        ).alias("nrm"),
    )
    idx_root = os.path.join(
        tempfile.gettempdir(), f"nyetl_knnidx_{os.getpid()}"
    )
    shutil.rmtree(idx_root, ignore_errors=True)

    # BUILD: identical lifecycle to ann_index_persisted_probe — train the
    # coarse quantizer, assign the corpus, persist partitioned by cid
    # (labels ride along as the payload a serving index would carry)
    cent = _ivf_centroids_cached(spark, emb, sf_dir)
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("pred_label"),
            F.col("embedding").alias("c_vec"),
            F.col("nrm").alias("c_nrm"),
            "cid",
        )
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(idx_root, "assignments"))
    )
    cent.write.mode("overwrite").parquet(os.path.join(idx_root, "centroids"))

    # sample from the RAW read — _v/nrm derive on the 512 checkpointed
    # rows, not corpus-wide on the sample branch (r9 watch item)
    qs = _fixed_n_queries(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_vec"),
        F.expr(
            f"sqrt({_DOT.format(a='embedding', b='embedding')})"
        ).alias("q_nrm"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )

    # PROBE: nearest n_probe=2 lists per query from persisted centroids
    cent_t = spark.read.parquet(os.path.join(idx_root, "centroids")).select(
        "cid", F.col("vec").alias("cent_vec")
    )
    d = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        qs.crossJoin(F.broadcast(cent_t))
        .select("query_id", "q_vec", "q_nrm", "cid", d.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= 2)
        .select("query_id", "q_vec", "q_nrm", "cid")
    )
    probe_cids = sorted({r["cid"] for r in probes.select("cid").collect()})
    idx_scan = spark.read.parquet(
        os.path.join(idx_root, "assignments")
    ).filter(F.col("cid").isin(probe_cids))

    cos = F.expr(
        f"round({_DOT.format(a='q_vec', b='c_vec')} / (q_nrm * c_nrm), 4)"
    )
    widx = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("cand_id")
    )
    idx_nn = (
        idx_scan.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "pred_label",
            cos.alias("cosine"),
        )
        .withColumn("r", F.row_number().over(widx))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("cand_id").alias("idx_cand"),
            F.col("pred_label").alias("idx_pred"),
        )
    )

    c = base.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("pred_label"),
        F.col("embedding").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
    )
    exact_nn = (
        F.broadcast(qs.select("query_id", "true_label", "q_vec", "q_nrm"))
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "cand_id",
            "pred_label",
            cos.alias("cosine"),
        )
        .withColumn("r", F.row_number().over(widx))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("cand_id").alias("exact_cand"),
            F.col("pred_label").alias("exact_pred"),
        )
    )

    j = exact_nn.join(idx_nn, "query_id", "left")
    hit_e = (F.col("exact_pred") == F.col("true_label")).cast("int")
    hit_i = F.coalesce(
        (F.col("idx_pred") == F.col("true_label")).cast("int"), F.lit(0)
    )
    agree = F.coalesce(
        (F.col("idx_cand") == F.col("exact_cand")).cast("int"), F.lit(0)
    )
    n = F.count(F.lit(1))
    return (
        j.groupBy(F.col("true_label").cast("int").alias("label"))
        .agg(
            n.cast("bigint").alias("n_queries"),
            F.sum(hit_e).cast("bigint").alias("n_correct_exact"),
            F.sum(hit_i).cast("bigint").alias("n_correct_index"),
            F.sum(agree).cast("bigint").alias("n_nn_agree"),
            F.round(F.sum(hit_e).cast("double") / n, 6)
            .alias("accuracy_exact"),
            F.round(F.sum(hit_i).cast("double") / n, 6)
            .alias("accuracy_index"),
            F.round(
                (F.sum(hit_e).cast("double") - F.sum(hit_i).cast("double"))
                / n,
                6,
            ).alias("accuracy_delta"),
        )
        .orderBy("label")
    )


def _gram_subspace_sql(n_pc: int = 3, steps: int = 3) -> str:
    """Unrolled DuckDB twin of gram_subspace_topk: one materialized Gram,
    then per component a power-iteration CTE chain with per-step
    Gram-Schmidt projection against the previous components' FINAL
    vectors.  Every CTE is MATERIALIZED — the matvec references would
    otherwise re-inline the corpus-sized Gram aggregate once per use."""
    # Quantize PRODUCTS at the decimal-cast itself (VARCHAR-routed, ==
    # Spark's BigDecimal.valueOf shortest-repr HALF_UP) rather than with a
    # pre-ROUND: a product of two 12-dp-quantized factors is a ~24-digit
    # decimal whose 13th digit is routinely an exact 5, and ROUND's two
    # engine views (shortest repr vs true binary) split on that boundary —
    # measured as a last-unit ortho_absdot mismatch before this change.
    mv = (
        "CAST(CAST(SUM(CAST(CAST(g.g * xx.x AS VARCHAR)"
        " AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    )

    def dot(ya, xb):
        return (
            f"CAST(CAST(SUM(CAST(CAST({ya}.y * {xb}.x AS VARCHAR)"
            f" AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
        )

    parts = [
        """g1 AS MATERIALIZED (
      SELECT i, j,
             CAST(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                  * CAST(embedding[j] AS DOUBLE), 12) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS g
      FROM embeddings, range(1, 65) ri(i), range(1, 65) rj(j)
      GROUP BY i, j
    ),
    tr AS MATERIALIZED (
      SELECT CAST(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                  * CAST(embedding[i] AS DOUBLE), 12) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS trace
      FROM embeddings, range(1, 65) ri(i)
    )"""
    ]
    for c in range(1, n_pc + 1):
        parts.append(
            f"xc{c}_0 AS MATERIALIZED "
            f"(SELECT i, 0.125 AS x FROM range(1, 65) t(i))"
        )
        for t in range(1, steps + 1):
            parts.append(f"""ym{c}_{t} AS MATERIALIZED (
      SELECT g.i, {mv} AS y
      FROM g1 g JOIN xc{c}_{t - 1} xx ON g.j = xx.i GROUP BY g.i
    )""")
            cur = f"ym{c}_{t}"
            for m in range(1, c):
                parts.append(f"""dp{c}_{t}_{m} AS MATERIALIZED (
      SELECT {dot('y', 'v')} AS d
      FROM {cur} y JOIN xc{m}_{steps} v ON y.i = v.i
    ),
    yp{c}_{t}_{m} AS MATERIALIZED (
      SELECT y.i, ROUND(y.y - d.d * v.x, 12) AS y
      FROM {cur} y JOIN xc{m}_{steps} v ON y.i = v.i
      CROSS JOIN dp{c}_{t}_{m} d
    )""")
                cur = f"yp{c}_{t}_{m}"
            parts.append(f"""nc{c}_{t} AS MATERIALIZED (
      SELECT sqrt(list_reduce(list(y * y ORDER BY i), (a, b) -> a + b))
        AS n
      FROM {cur}
    ),
    xc{c}_{t} AS MATERIALIZED (
      SELECT y.i, ROUND(y.y / n.n, 12) AS x FROM {cur} y, nc{c}_{t} n
    )""")
        parts.append(f"""topc{c} AS MATERIALIZED (
      SELECT i AS top_coord, ROUND(x, 6) AS top_coord_val
      FROM (SELECT *, row_number() OVER (ORDER BY abs(x) DESC, i) AS r
            FROM xc{c}_{steps})
      WHERE r = 1
    )""")
        if c >= 2:
            parts.append(f"""ortho{c} AS MATERIALIZED (
      SELECT abs(CAST(CAST(SUM(CAST(CAST(a.x * b.x AS VARCHAR)
                 AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)) AS d
      FROM xc{c}_{steps} a JOIN xc{c - 1}_{steps} b ON a.i = b.i
    )""")
    selects = []
    for c in range(1, n_pc + 1):
        ortho_expr = "0.0" if c == 1 else "ROUND(o.d, 12)"
        ortho_from = "" if c == 1 else f", ortho{c} o"
        selects.append(f"""SELECT CAST({c} AS INT) AS pc,
           ROUND(n.n, 6) AS lambda_est,
           ROUND(n.n / tr.trace, 6) AS explained_frac,
           CAST(t.top_coord AS INT) AS top_coord, t.top_coord_val,
           {ortho_expr} AS ortho_absdot
    FROM nc{c}_{steps} n, tr, topc{c} t{ortho_from}""")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT * FROM (\n    "
        + "\n    UNION ALL\n    ".join(selects)
        + "\n    ) ORDER BY pc"
    )


@register(
    "gram_subspace_topk",
    _gram_subspace_sql(n_pc=3, steps=3),
    doc="TOP-3 PRINCIPAL SUBSPACE by projected power iteration on the "
    "cached Gram (r8 verdict item 7 — gram_power_iteration_pc1 "
    "extended: embedding-drift monitoring needs a subspace, not one "
    "direction): the 64x64 Gram is built in the SAME single corpus "
    "pass, then component c runs 3 power steps in which every matvec "
    "result is Gram-Schmidt-projected off the previous components' "
    "final vectors BEFORE normalization — orthogonality holds BY "
    "CONSTRUCTION even when 3 steps have not converged (this "
    "near-isotropic spectrum: plain deflation left |v2.v1| ~0.19; the "
    "projected iterate reports ~1e-13, emitted at 12 dp as the "
    "measured residual). 9 matvecs + 9 projection dots, ALL on O(d^2) "
    "broadcast state, zero further corpus passes. Per component: "
    "lambda estimate (norm of the projected response — the Rayleigh "
    "estimate within the orthogonal complement), explained fraction vs "
    "the exact trace, dominant coordinate, measured |v_c . v_(c-1)|. "
    "On this corpus the three fractions are ~equal (~2%) — the "
    "no-structure baseline a drift monitor alerts AGAINST (numpy eigh "
    "bounds in tests). Architecture (r13 verdict item 1): ONE corpus "
    "pass builds the decimal-exact 64x64 Gram + trace engine-side; the "
    "9 matvecs + 9 projection dots then run ON THE DRIVER over the "
    "collected 4096-row state with the oracle's exact arithmetic "
    "(products quantized to DECIMAL(38,12) via shortest-repr HALF_UP, "
    "summed exactly in 1e-12 integer units, ordered IEEE norm fold) — "
    "the _ns_polar_np discipline: 64x64 iterations are metadata-scale, "
    "and the prior ~20-tiny-job Spark loop was pure scheduling "
    "overhead, not distribution. Oracle: identical unrolled CTE chain, "
    "every CTE materialized (inlining would recompute the corpus-sized "
    "Gram aggregate per matvec).",
)
def gram_subspace_topk(spark, sf_dir):
    import math

    from pyspark.sql import types as T

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    gram = {
        (r["i"], r["j"]): r["g"] for r in _gram_checkpointed(emb).collect()
    }
    trace = _gram_trace(emb).collect()[0]["trace"]

    out = []
    finals: list = []
    for c in range(1, 4):
        x = [0.125] * 64
        last_n = None
        for _ in range(3):
            # matvec: per-i exact decimal sum of the 12-dp-quantized
            # products — order-free, == the oracle's ym CTE bit-for-bit
            y = [
                _decsum12([gram[(i, j)] * x[j - 1] for j in range(1, 65)])
                for i in range(1, 65)
            ]
            for v in finals:
                d = _decsum12(
                    [y[i] * v[i] for i in range(64)]
                )  # dp CTE
                y = [_round12(y[i] - d * v[i]) for i in range(64)]  # yp
            # ordered left fold == list_reduce(list(y*y ORDER BY i))
            acc = 0.0
            for yi in y:
                acc = acc + yi * yi
            last_n = math.sqrt(acc)
            x = [_round12(yi / last_n) for yi in y]
        top_i = min(range(64), key=lambda i: (-abs(x[i]), i))
        if not finals:
            ortho = 0.0
        else:
            v = finals[-1]
            ortho = _round12(
                abs(_decsum12([x[i] * v[i] for i in range(64)]))
            )
        out.append(
            (
                c,
                _round6(last_n),
                _round6(last_n / trace),
                top_i + 1,
                _round6(x[top_i]),
                ortho,
            )
        )
        finals.append(x)
    schema = T.StructType(
        [
            T.StructField("pc", T.IntegerType()),
            T.StructField("lambda_est", T.DoubleType()),
            T.StructField("explained_frac", T.DoubleType()),
            T.StructField("top_coord", T.IntegerType()),
            T.StructField("top_coord_val", T.DoubleType()),
            T.StructField("ortho_absdot", T.DoubleType()),
        ]
    )
    from newyork_taxi_etl_spark.localrel import local_rows_df

    return local_rows_df(spark, out, schema).orderBy("pc")


@register(
    "streaming_ann_ingest",
    _IVF_APPEND_SQL,
    doc="STREAMING ANN INGEST (r8 verdict optional item — "
    "ann_index_incremental_append composed with the foreachBatch "
    "applied-batch discipline): the quantizer is trained once on the "
    "initial corpus (vec_id % 4 <> 0) and persisted; the held-out "
    "quarter ARRIVES AS A STREAM and every micro-batch is assigned by "
    "the PERSISTED quantizer (read back inside the fold — the appender "
    "owns no trainer state) and appended to the cid-partitioned "
    "assignments table, replay-guarded by the applied-batch sidecar. "
    "The post-drain partition-pruned probe must be IDENTICAL to the "
    "from-scratch rebuild — the oracle is literally "
    "ann_index_incremental_append's (_IVF_APPEND_SQL): each vector's "
    "cid depends only on the persisted centroids, so the drained index "
    "is batching-invariant by construction (1-vs-3-slice equality also "
    "pinned in tests/test_similarity_params.py). Per batch: one 8-row "
    "centroid broadcast + one O(batch) partitioned append; at 100 TB "
    "only the batch ever shuffles and the probe reads "
    "corpus/n_lists x n_probe.",
)
def streaming_ann_ingest(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from newyork_taxi_etl_spark.streaming import windows as W

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    work = tempfile.mkdtemp(prefix="nyetl_annstream_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return W.run_streaming_ann_ingest(
        spark, emb, work, cache_key=f"annstream_snap:{sf_dir}"
    )


@register(
    "embedding_class_separation",
    """
    WITH e AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (
      SELECT label, t.i AS i, v[t.i] AS x
      FROM e, unnest(range(1, 65)) t(i)
    ),
    cs AS (
      SELECT label, i,
             CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM dims GROUP BY label, i
    ),
    tot AS (
      SELECT i,
             CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM dims GROUP BY i
    ),
    muc AS (SELECT label, i, s / n AS mu FROM cs),
    mug AS (SELECT i, s / n AS mu FROM tot),
    ssq AS (
      SELECT label,
             CAST(CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS ss,
             COUNT(*) / 64 AS n
      FROM dims GROUP BY label
    ),
    btw AS (
      SELECT m.label,
             CAST(CAST(SUM(CAST(ROUND((m.mu - g.mu) * (m.mu - g.mu), 12)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS between_c
      FROM muc m JOIN mug g ON m.i = g.i GROUP BY m.label
    ),
    mu2 AS (
      SELECT label,
             CAST(CAST(SUM(CAST(ROUND(mu * mu, 12) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS m2
      FROM muc GROUP BY label
    )
    SELECT CAST(b.label AS INT) AS label,
           CAST(s.n AS BIGINT) AS n,
           ROUND(b.between_c, 6) AS between_var,
           ROUND(s.ss / s.n - m.m2, 6) AS within_var,
           ROUND(b.between_c / (s.ss / s.n - m.m2), 6) AS fisher_ratio
    FROM btw b JOIN ssq s ON b.label = s.label
    JOIN mu2 m ON b.label = m.label
    ORDER BY label
    """,
    doc="EMBEDDING CLASS SEPARATION — per-label Fisher discriminant "
    "ratio ||mu_c - mu||^2 / within-class variance, the one-pass "
    "sufficient-statistics answer to 'does this embedding space "
    "separate my labels at all?' (the cheap global complement of the "
    "per-query knn_label_accuracy evaluation): per-(label, dim) decimal "
    "sums and per-label squared-norm sums are ONE map-side-combinable "
    "pass over the corpus; means, the between-class distance and the "
    "within-class variance (E||x||^2 - ||mu_c||^2) all derive from "
    "that O(labels x d) state. Near-zero ratios here (~0.003, "
    "isotropic synthetic labels) are the recorded no-signal baseline — "
    "a real space shows 0.1+; monitoring this per training snapshot "
    "catches embedding-collapse regressions for the cost of one scan. "
    "All cross-row sums are 12-dp-quantized decimals (order-free, "
    "engine-exact); divisions and rounds mirrored expression-for-"
    "expression.",
)
def embedding_class_separation(spark, sf_dir):
    dec = "decimal(38,12)"
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    dims = emb.select(
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("i", "x"),
    )
    dims = dims.localCheckpoint(eager=True)  # cs + tot + ssq scans
    cs = dims.groupBy("label", "i").agg(
        F.sum(F.col("x").cast(dec)).cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    tot = dims.groupBy("i").agg(
        F.sum(F.col("x").cast(dec)).cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    muc = cs.select("label", "i", (F.col("s") / F.col("n")).alias("mu"))
    mug = tot.select("i", (F.col("s") / F.col("n")).alias("mu_g"))
    ssq = dims.groupBy("label").agg(
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast(dec))
        .cast("double")
        .alias("ss"),
        (F.count(F.lit(1)) / 64).alias("n"),
    )
    btw = (
        muc.join(F.broadcast(mug), "i")
        .groupBy("label")
        .agg(
            F.sum(
                F.round(
                    (F.col("mu") - F.col("mu_g"))
                    * (F.col("mu") - F.col("mu_g")),
                    12,
                ).cast(dec)
            )
            .cast("double")
            .alias("between_c")
        )
    )
    mu2 = muc.groupBy("label").agg(
        F.sum(F.round(F.col("mu") * F.col("mu"), 12).cast(dec))
        .cast("double")
        .alias("m2")
    )
    within = F.col("ss") / F.col("n") - F.col("m2")
    return (
        btw.join(ssq, "label")
        .join(mu2, "label")
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("n").cast("bigint").alias("n"),
            F.round("between_c", 6).alias("between_var"),
            F.round(within, 6).alias("within_var"),
            F.round(F.col("between_c") / within, 6).alias("fisher_ratio"),
        )
        .orderBy("label")
    )


def _scurve_sql() -> str:
    keys = ",\n             ".join(
        f"{band_bucket_sql('v', dims)} AS k{i}"
        for i, dims in enumerate(LSH_BANDS)
    )
    any_band = " OR ".join(f"a.k{i} = b.k{i}" for i in range(len(LSH_BANDS)))
    cos = (
        "ROUND(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v))), 4)"
    )
    theory = (
        "ROUND(1 - POW(1 - POW(1 - ACOS(cos) / 3.141592653589793, 4), 12), 6)"
    )
    return f"""
    WITH s AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 64
    ),
    k AS (
      SELECT vec_id, v,
             {keys}
      FROM s
    ),
    pairs AS (
      SELECT {cos} AS cos,
             CASE WHEN {any_band} THEN 1 ELSE 0 END AS collide
      FROM k a JOIN k b ON a.vec_id < b.vec_id
    ),
    t AS (
      SELECT CAST(FLOOR(cos * 5) AS INT) AS bucket, collide,
             CAST(ROUND({theory} * 1000000) AS BIGINT) AS th_ticks
      FROM pairs
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(collide) AS BIGINT) AS n_collide,
           ROUND(CAST(SUM(collide) AS DOUBLE) / COUNT(*), 6) AS emp_rate,
           ROUND(CAST(SUM(th_ticks) AS DOUBLE) / (1000000.0 * COUNT(*)), 6)
             AS mean_theory,
           ROUND(ABS(ROUND(CAST(SUM(collide) AS DOUBLE) / COUNT(*), 6)
                     - ROUND(CAST(SUM(th_ticks) AS DOUBLE)
                             / (1000000.0 * COUNT(*)), 6)), 6) AS calib_gap
    FROM t
    GROUP BY bucket
    ORDER BY bucket
    """


@register(
    "lsh_scurve_calibration",
    _scurve_sql(),
    doc="Measured vs theoretical S-curve for the multiband sign-LSH "
    "family (12 bands x 4 bits, the exact LSH_BANDS the ANN/dedup "
    "paths run): over a fixed 64-vector / 2016-pair grid, each pair's "
    "empirical any-band collision is compared per cosine bucket "
    "against the closed-form 1-(1-p^4)^12 with p = 1 - acos(cos)/pi "
    "— the calibration that justifies the bits/bands operating point "
    "(NOTES.md derives WHY 4-bit bands are near-vacuous at low "
    "cosine; this query turns that derivation into a driver-gated "
    "measurement, so a band-parameter edit that silently broke "
    "selectivity or recall shifts a value-checked number). Scale: the "
    "grid is constant-size (the fixed-N discipline); band keys are "
    "projections; theory terms quantize to integer ticks before the "
    "per-bucket mean. ACOS sits under ROUND(.,6) (sigmoid "
    "discipline).",
)
def lsh_scurve_calibration(spark, sf_dir):
    from functools import reduce

    from newyork_taxi_etl_spark.operators.similarity import (
        cosine_expr,
        lsh_bucket_expr,
    )

    emb = (
        spark.read.parquet(table_path(sf_dir, "embeddings"))
        .filter(F.col("vec_id") < 64)
        .select(
            "vec_id",
            "embedding",
            *[
                lsh_bucket_expr("embedding", dims).alias(f"k{i}")
                for i, dims in enumerate(LSH_BANDS)
            ],
        )
        .localCheckpoint(eager=True)
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = cosine_expr("a.embedding", "b.embedding", 4)
    collide = reduce(
        lambda x, y: x | y,
        [
            (F.col(f"a.k{i}") == F.col(f"b.k{i}"))
            for i in range(len(LSH_BANDS))
        ],
    )
    p_bit = F.lit(1.0) - F.acos(F.col("cos")) / F.lit(3.141592653589793)
    theory = F.round(
        F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(p_bit, 4), 12), 6
    )
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(cos.alias("cos"), collide.cast("int").alias("collide"))
        .select(
            F.floor(F.col("cos") * 5).cast("int").alias("bucket"),
            "collide",
            F.round(theory * 1000000).cast("bigint").alias("th_ticks"),
        )
    )
    n = F.count(F.lit(1))
    emp = F.round(F.sum("collide").cast("double") / n, 6)
    th = F.round(F.sum("th_ticks").cast("double") / (F.lit(1000000.0) * n), 6)
    return (
        pairs.groupBy("bucket")
        .agg(
            n.cast("bigint").alias("n_pairs"),
            F.sum("collide").cast("bigint").alias("n_collide"),
            emp.alias("emp_rate"),
            th.alias("mean_theory"),
            F.round(F.abs(emp - th), 6).alias("calib_gap"),
        )
        .orderBy("bucket")
    )


def moment_mmd2_split(emb, side_col):
    """MMD^2 under the degree-2 moment kernel k(x,y) = 2<x,y> + <x^2,y^2>
    (elementwise squares), between side_col=1 and side_col=0 rows.

    For this kernel the MMD has a CLOSED FORM in first/second marginal
    moments: MMD^2 = 2*||E_A[x] - E_B[x]||^2 + ||E_A[x^2] - E_B[x^2]||^2 —
    so the whole two-sample kernel statistic reduces to O(d) decimal
    sufficient statistics per side (one corpus pass, map-side combined),
    with no pairwise kernel evaluations and no transcendentals (the usual
    RBF-feature MMD needs cos(), whose last-ulp behavior is not
    engine-portable). Returns one row: n_a, n_b, mean_term, var_term, mmd2.

    Factored as partials + finisher so the streaming ingest monitor
    (streaming/windows.run_streaming_mmd_ingest) folds the SAME decimal
    sufficient statistics per micro-batch: decimal addition is
    associative, so sum-of-batch-sums equals the one-pass sum exactly
    and the drained monitor is bit-identical to this batch statistic.
    """
    return mmd2_from_partials(mmd_moment_partials(emb, side_col))


def mmd_moment_partials(emb, side_col):
    """Per-(side, dim) decimal sufficient statistics (sx, sxx, cnt) of
    the degree-2 moment kernel — additive across any row partition, so
    they fold per micro-batch."""
    dec = "decimal(38,12)"
    dims = emb.select(
        F.col(side_col).alias("side"),
        F.explode(
            F.expr(
                "transform(sequence(1, 64), i -> struct(i AS i, "
                "round(CAST(element_at(embedding, i) AS DOUBLE), 12) AS x, "
                "round(CAST(element_at(embedding, i) AS DOUBLE) * "
                "CAST(element_at(embedding, i) AS DOUBLE), 12) AS xx))"
            )
        ).alias("t"),
    ).select("side", "t.i", "t.x", "t.xx")
    return dims.groupBy("side", "i").agg(
        F.sum(F.col("x").cast(dec)).alias("sx_d"),
        F.sum(F.col("xx").cast(dec)).alias("sxx_d"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )


def mmd2_from_partials(p):
    """Closed-form MMD^2 from (side, i, sx_d, sxx_d, cnt) partials: the
    re-aggregation sums the exact decimals (identity on a one-pass
    input, the merge step on folded micro-batch partials), then the
    double-precision tail is byte-identical to the original one-pass
    formulation."""
    agg = p.groupBy("side", "i").agg(
        F.sum("sx_d").alias("sx_t"),
        F.sum("sxx_d").alias("sxx_t"),
        F.sum("cnt").alias("cnt"),
    )
    dec = "decimal(38,12)"
    s = agg.select(
        "side",
        "i",
        F.col("sx_t").cast(dec).cast("double").alias("sx"),
        F.col("sxx_t").cast(dec).cast("double").alias("sxx"),
    )
    n = (
        agg.filter(F.col("i") == 1)
        .select("side", F.col("cnt").cast("bigint").alias("n"))
    )
    a = s.filter(F.col("side") == 1).join(
        F.broadcast(n.filter(F.col("side") == 1)), "side"
    ).select("i", F.col("sx").alias("sxa"), F.col("sxx").alias("sxxa"),
             F.col("n").alias("n_a"))
    b = s.filter(F.col("side") == 0).join(
        F.broadcast(n.filter(F.col("side") == 0)), "side"
    ).select("i", F.col("sx").alias("sxb"), F.col("sxx").alias("sxxb"),
             F.col("n").alias("n_b"))
    dmu = F.col("sxa") / F.col("n_a") - F.col("sxb") / F.col("n_b")
    dm2 = F.col("sxxa") / F.col("n_a") - F.col("sxxb") / F.col("n_b")
    terms = a.join(b, "i").select(
        "n_a",
        "n_b",
        F.round(2 * dmu * dmu, 12).alias("mt"),
        F.round(dm2 * dm2, 12).alias("vt"),
    )
    return terms.groupBy("n_a", "n_b").agg(
        F.round(F.sum(F.col("mt").cast(dec)).cast("double"), 6).alias(
            "mean_term"
        ),
        F.round(F.sum(F.col("vt").cast(dec)).cast("double"), 6).alias(
            "var_term"
        ),
        F.round(
            (
                F.sum(F.col("mt").cast(dec)) + F.sum(F.col("vt").cast(dec))
            ).cast("double"),
            6,
        ).alias("mmd2"),
    )


def _mmd_oracle_branch(split: str, side_expr: str) -> str:
    v = "CAST(CAST(SUM(CAST({x} AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)"
    return f"""
    tag_{split} AS (
      SELECT {side_expr} AS side, embedding FROM embeddings
    ),
    dims_{split} AS (
      SELECT side, i,
             ROUND(CAST(embedding[i] AS DOUBLE), 12) AS x,
             ROUND(CAST(embedding[i] AS DOUBLE)
                   * CAST(embedding[i] AS DOUBLE), 12) AS xx
      FROM tag_{split}, range(1, 65) r(i)
    ),
    s_{split} AS (
      SELECT side, i, {v.format(x='x')} AS sx, {v.format(x='xx')} AS sxx
      FROM dims_{split} GROUP BY side, i
    ),
    n_{split} AS (
      SELECT side, CAST(COUNT(*) AS BIGINT) AS n FROM tag_{split} GROUP BY side
    ),
    t_{split} AS (
      SELECT na.n AS n_a, nb.n AS n_b,
             ROUND(2 * (a.sx / na.n - b.sx / nb.n)
                     * (a.sx / na.n - b.sx / nb.n), 12) AS mt,
             ROUND((a.sxx / na.n - b.sxx / nb.n)
                     * (a.sxx / na.n - b.sxx / nb.n), 12) AS vt
      FROM s_{split} a JOIN s_{split} b ON a.i = b.i
      JOIN n_{split} na ON na.side = 1
      JOIN n_{split} nb ON nb.side = 0
      WHERE a.side = 1 AND b.side = 0
    ),
    out_{split} AS (
      SELECT '{split}' AS split, n_a, n_b,
             ROUND(CAST(CAST(SUM(CAST(mt AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE), 6) AS mean_term,
             ROUND(CAST(CAST(SUM(CAST(vt AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE), 6) AS var_term,
             ROUND(CAST(CAST(SUM(CAST(mt AS DECIMAL(38,12)))
                             + SUM(CAST(vt AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE), 6) AS mmd2
      FROM t_{split} GROUP BY n_a, n_b
    )"""


# Shared by mmd_moment_drift (batch) and streaming_mmd_ingest (the same
# decimal sufficient statistics folded per micro-batch — additive, so
# the drained monitor must equal this batch answer bit-for-bit).
_MMD_SQL = f"""
    WITH {_mmd_oracle_branch('parity_null', 'CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END')[5:]},
    {_mmd_oracle_branch('label0', 'CASE WHEN label = 0 THEN 1 ELSE 0 END')[5:]}
    SELECT * FROM out_parity_null
    UNION ALL
    SELECT * FROM out_label0
    ORDER BY split
    """


@register(
    "mmd_moment_drift",
    _MMD_SQL,
    doc="TWO-SAMPLE KERNEL DRIFT (MMD) between embedding populations under "
    "the degree-2 moment kernel k(x,y) = 2<x,y> + <x^2,y^2>, for which "
    "MMD^2 = 2||dmu||^2 + ||d E[x^2]||^2 has a closed form in per-side "
    "first/second marginal moments — O(d) decimal sufficient statistics "
    "per side, ONE corpus pass, no pairwise kernel evaluations (the "
    "quadratic-time U-statistic estimator can never ship at 100 TB) and "
    "no transcendentals (RBF random features need cos(), which is not "
    "last-ulp engine-portable). Two splits side by side: vec_id parity "
    "(the permutation-null scale — what MMD sampling noise looks like "
    "when nothing drifted) and label-0-vs-rest (a real subpopulation); "
    "drift detection compares a production split against the null row. "
    "Planted-shift sensitivity is pinned in tests/test_round9b_ops.py.",
)
def mmd_moment_drift(spark, sf_dir):
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    par = moment_mmd2_split(
        emb.withColumn(
            "side", F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)
        ),
        "side",
    ).select(F.lit("parity_null").alias("split"), "*")
    lab = moment_mmd2_split(
        emb.withColumn(
            "side", F.when(F.col("label") == 0, 1).otherwise(0)
        ),
        "side",
    ).select(F.lit("label0").alias("split"), "*")
    return par.unionByName(lab).orderBy("split")


def _mmr_oracle_sql(k: int = 5, n_cand: int = 12, lam: float = 0.7) -> str:
    """Unrolled k-step MMR selection. Chained CTEs are MATERIALIZED —
    DuckDB re-inlines a CTE per reference, which explodes 2^steps on an
    iteration chain (NOTES round-9)."""
    steps = []
    for t in range(2, k + 1):
        prev = f"selu{t - 1}"
        steps.append(f"""
    pen{t} AS MATERIALIZED (
      SELECT c.query_id, c.cand_id, c.simq, MAX(p.sim) AS pen
      FROM cands c
      JOIN pair p ON p.query_id = c.query_id AND p.a = c.cand_id
      JOIN {prev} s ON s.query_id = p.query_id AND s.cand_id = p.b
      WHERE NOT EXISTS (SELECT 1 FROM {prev} s2
                        WHERE s2.query_id = c.query_id
                          AND s2.cand_id = c.cand_id)
      GROUP BY c.query_id, c.cand_id, c.simq
    ),
    sel{t} AS MATERIALIZED (
      SELECT query_id, {t} AS step, cand_id, simq,
             {lam} * simq - {1 - lam:.1f} * pen AS mmr_raw
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY {lam} * simq - {1 - lam:.1f} * pen DESC, cand_id)
                 AS rn
            FROM pen{t})
      WHERE rn = 1
    ),
    selu{t} AS MATERIALIZED (
      SELECT query_id, step, cand_id, simq, mmr_raw FROM {prev}
      UNION ALL
      SELECT query_id, step, cand_id, simq, mmr_raw FROM sel{t}
    )""")
    chain = ",".join(steps)
    cos = _COS_SQL.format(a="q.embedding", b="c.embedding")
    ccos = _COS_SQL.format(a="x.embedding", b="y.embedding")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             {cos} AS simq
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 3
    ),
    cands AS MATERIALIZED (
      SELECT query_id, cand_id, simq
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY simq DESC, cand_id) AS rn FROM scored)
      WHERE rn <= {n_cand}
    ),
    pair AS MATERIALIZED (
      SELECT a.query_id, a.cand_id AS a, b.cand_id AS b, {ccos} AS sim
      FROM cands a
      JOIN cands b ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
      JOIN embeddings x ON x.vec_id = a.cand_id
      JOIN embeddings y ON y.vec_id = b.cand_id
    ),
    selu1 AS MATERIALIZED (
      SELECT query_id, 1 AS step, cand_id, simq, {lam} * simq AS mmr_raw
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY simq DESC, cand_id) AS rn FROM cands)
      WHERE rn = 1
    ),{chain}
    SELECT query_id, step, cand_id, simq, ROUND(mmr_raw, 6) AS mmr_score
    FROM selu{k}
    ORDER BY query_id, step
    """


@register(
    "mmr_diverse_topk",
    _mmr_oracle_sql(),
    doc="MAXIMAL MARGINAL RELEVANCE re-ranking (the standard "
    "diversity-aware retrieval stage after ANN candidate generation, "
    "Carbonell-Goldstein 1998): per query, take the top-12 cosine "
    "candidates, then greedily select 5 maximizing "
    "0.7*sim(q,d) - 0.3*max_{s in S} sim(d,s) with deterministic "
    "(score desc, id) tie-breaks. The scale shape: relevance scoring is "
    "the existing broadcast-query brute/indexed ANN pass over the corpus; "
    "everything AFTER candidate generation — the pairwise candidate sims "
    "and the k greedy steps — runs on O(queries x n_cand) rows "
    "(candidate-local, corpus never touched again), which is why MMR is "
    "viable at 100 TB even though it is inherently sequential in k. "
    "Iterates localCheckpoint per step (lazy-tree truncation, NOTES r8). "
    "Oracle unrolls the identical 5 greedy steps as materialized CTEs.",
)
def mmr_diverse_topk(spark, sf_dir, k: int = 5, n_cand: int = 12):
    from pyspark.sql import Window

    lam = 0.7
    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cos = S.cosine_expr("qv", "embedding")
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(cos, 4).alias("simq"),
            "embedding",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("simq").desc(), F.col("cand_id")
    )
    cands = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_cand)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    ccos = S.cosine_expr("x_emb", "y_emb")
    pair = (
        cands.select("query_id", F.col("cand_id").alias("a"),
                     F.col("embedding").alias("x_emb"))
        .join(
            cands.select(F.col("query_id").alias("qb"),
                         F.col("cand_id").alias("b"),
                         F.col("embedding").alias("y_emb")),
            (F.col("query_id") == F.col("qb")) & (F.col("a") != F.col("b")),
        )
        .select("query_id", "a", "b", F.round(ccos, 4).alias("sim"))
        .localCheckpoint(eager=True)
    )
    cands = cands.drop("embedding")
    sel = (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).alias("step"),
            "cand_id",
            "simq",
            (F.lit(lam) * F.col("simq")).alias("mmr_raw"),
        )
        .localCheckpoint(eager=True)
    )
    for t in range(2, k + 1):
        rem = cands.join(
            sel.select("query_id", "cand_id"), ["query_id", "cand_id"],
            "left_anti",
        )
        pairr = pair.select(
            F.col("query_id").alias("qp"), "a", "b", "sim"
        )
        sels = sel.select(
            F.col("query_id").alias("qs"), F.col("cand_id").alias("s_id")
        )
        pen = (
            rem.join(
                pairr,
                (F.col("query_id") == F.col("qp"))
                & (F.col("cand_id") == F.col("a")),
            )
            .join(
                sels,
                (F.col("qp") == F.col("qs")) & (F.col("b") == F.col("s_id")),
            )
            .groupBy("query_id", "cand_id", "simq")
            .agg(F.max("sim").alias("pen"))
        )
        mmr = F.lit(lam) * F.col("simq") - F.lit(1 - lam) * F.col("pen")
        wp = Window.partitionBy("query_id").orderBy(
            mmr.desc(), F.col("cand_id")
        )
        pick = (
            pen.withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(t).alias("step"),
                "cand_id",
                "simq",
                mmr.alias("mmr_raw"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        "query_id", "step", "cand_id", "simq",
        F.round("mmr_raw", 6).alias("mmr_score"),
    ).orderBy("query_id", "step")


# --- ANN ranking quality: MRR@K / NDCG@K / recall@K of the IVF probe ----
#
# Integer-exact metric plumbing: the rank->discount and rank->reciprocal
# tables are BIGINT constants scaled by 1e12, generated ONCE in Python and
# embedded as literals in BOTH the Spark expressions and the DuckDB oracle
# (identical by construction — no engine ever evaluates log2), so every
# per-query DCG/MRR numerator and every cross-query sum is exact integer
# arithmetic; floats appear only in the three final constant divisions.
_RANK_K = 10
_RANK_QUERY_N = 128
_DISC_I = tuple(
    int(round(1e12 / _math.log2(r + 1))) for r in range(1, _RANK_K + 1)
)
_MRR_I = tuple(int(round(1e12 / r)) for r in range(1, _RANK_K + 1))
_IDCG_I = sum(_DISC_I)


def _rank_case(col: str, table: tuple) -> str:
    """Simple-CASE rank lookup (shared text for Spark SQL and DuckDB);
    a NULL scrutinee (query with no relevant hit) falls to ELSE 0."""
    whens = " ".join(f"WHEN {r} THEN {v}" for r, v in enumerate(table, 1))
    return f"CASE {col} {whens} ELSE 0 END"


_ANN_RANK_SQL = f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    assigned AS (
      SELECT e.vec_id AS cand_id, e.embedding AS c_vec,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    qs AS (
      SELECT vec_id, embedding, v
      FROM emb
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_RANK_QUERY_N}
    ),
    probes AS (
      SELECT query_id, q_vec, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS q_vec, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_IVF_KM_DIST.format(a='q.v', b='c.vec')}, c.cid)
                 AS r
        FROM qs q CROSS JOIN c1 c
      ) WHERE r <= 2
    ),
    exact10 AS (
      SELECT query_id, cand_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_COS_SQL.format(a='q.embedding',
                                           b='c.embedding')} DESC,
                          c.vec_id) AS r
        FROM qs q JOIN emb c ON c.vec_id <> q.vec_id
      ) WHERE r <= {_RANK_K}
    ),
    idx10 AS (
      SELECT query_id, cand_id, r AS ri FROM (
        SELECT p.query_id, a.cand_id,
               ROW_NUMBER() OVER (PARTITION BY p.query_id
                 ORDER BY {_COS_SQL.format(a='p.q_vec', b='a.c_vec')} DESC,
                          a.cand_id) AS r
        FROM assigned a JOIN probes p USING (cid)
        WHERE a.cand_id <> p.query_id
      ) WHERE r <= {_RANK_K}
    ),
    scored AS (
      SELECT i.query_id, i.ri,
             CASE WHEN e.cand_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM idx10 i LEFT JOIN exact10 e
        ON e.query_id = i.query_id AND e.cand_id = i.cand_id
    ),
    perq AS (
      SELECT q.vec_id AS query_id,
             COALESCE(CAST(SUM(s.rel) AS BIGINT), 0) AS hits,
             COALESCE(CAST(SUM(s.rel * {_rank_case('s.ri', _DISC_I)})
                      AS BIGINT), 0) AS dcg_i,
             {_rank_case('MIN(CASE WHEN s.rel = 1 THEN s.ri END)', _MRR_I)}
               AS mrr_i
      FROM qs q LEFT JOIN scored s ON s.query_id = q.vec_id
      GROUP BY q.vec_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN hits = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_hit,
           CAST(SUM(hits) AS BIGINT) AS n_hits_total,
           ROUND(CAST(CAST(SUM(hits) AS BIGINT) AS DOUBLE)
                 / ({_RANK_K}.0 * COUNT(*)), 6) AS recall_at10,
           ROUND(CAST(CAST(SUM(mrr_i) AS BIGINT) AS DOUBLE)
                 / (1000000000000.0 * COUNT(*)), 6) AS mrr_at10,
           ROUND(CAST(CAST(SUM(dcg_i) AS BIGINT) AS DOUBLE)
                 / ({_IDCG_I}.0 * COUNT(*)), 6) AS ndcg_at10
    FROM perq
"""


@register(
    "ann_ranking_quality",
    _ANN_RANK_SQL,
    doc="GRADED RANKING QUALITY of the persisted IVF index — MRR@10, "
    "NDCG@10 (binary relevance = membership in the brute-force exact "
    "top-10) and recall@10, the three IR metrics a retrieval/RAG stack "
    "tracks that the existing gates (recall@k sets, 1-NN accuracy "
    "delta) do not: they grade WHERE in the returned list the true "
    "neighbors sit, not just whether they appear. Same serving "
    "lifecycle as knn_label_accuracy_indexed (train k=8/1-iter coarse "
    "quantizer, persist cid-partitioned assignments with precomputed "
    "norms, probe n_probe=2 lists as a static partition filter); a "
    "fixed-N (128, md5-order) query sample keeps exact-truth work "
    "O(N x corpus) with an O(N) broadcast at any scale. Integer-exact "
    "metric plumbing: rank->discount (1e12/log2(r+1)) and "
    "rank->reciprocal (1e12/r) BIGINT tables are Python-generated "
    "literals shared verbatim by both engines, so DCG/MRR numerators "
    "and all cross-query sums are exact integers; floats enter only in "
    "the three final constant divisions (IDCG is a constant because "
    "the exact top-10 always has 10 members on a corpus > K+1). A "
    "query whose probed lists return no candidate contributes zero to "
    "every numerator and is counted in n_zero_hit (fail-safe LEFT "
    "JOIN from the query sample).",
)
def ann_ranking_quality(spark, sf_dir):
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
    )
    from newyork_taxi_etl_spark.operators.similarity import _DOT

    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    # spread_small_scan: parallelize the assignment/eval stages when the
    # corpus fits one split (structural no-op at scale)
    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    # norms precomputed once per vector and stored in the index (the r7
    # semantic_dedup_buckets lesson): sqrt(dot(v,v)) is the same subtree
    # the oracle's inline cosine evaluates, so the 4-dp cosine matches
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
        F.expr(
            f"sqrt({_DOT.format(a='embedding', b='embedding')})"
        ).alias("nrm"),
    )
    idx_root = os.path.join(
        tempfile.gettempdir(), f"nyetl_rankidx_{os.getpid()}"
    )
    shutil.rmtree(idx_root, ignore_errors=True)

    # BUILD: the ann_index_persisted_probe lifecycle — train the coarse
    # quantizer, assign the corpus, persist partitioned by cid
    cent = _ivf_centroids_cached(spark, emb, sf_dir)
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("c_vec"),
            F.col("nrm").alias("c_nrm"),
            "cid",
        )
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(idx_root, "assignments"))
    )
    cent.write.mode("overwrite").parquet(os.path.join(idx_root, "centroids"))

    # sample from the RAW read — _v/nrm derive on the 128 checkpointed
    # rows, not corpus-wide on the sample branch (r9 watch item)
    qs = _fixed_n_queries(emb, n=_RANK_QUERY_N).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.expr(
            f"sqrt({_DOT.format(a='embedding', b='embedding')})"
        ).alias("q_nrm"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )

    # PROBE: nearest n_probe=2 lists per query from persisted centroids,
    # pushed as a static partition filter on the assignments read
    cent_t = spark.read.parquet(os.path.join(idx_root, "centroids")).select(
        "cid", F.col("vec").alias("cent_vec")
    )
    d = F.expr(_SQDIST.format(a="_v", b="cent_vec"))
    wq = Window.partitionBy("query_id").orderBy("d", "cid")
    probes = (
        qs.crossJoin(F.broadcast(cent_t))
        .select("query_id", "q_vec", "q_nrm", "cid", d.alias("d"))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= 2)
        .select("query_id", "q_vec", "q_nrm", "cid")
    )
    probe_cids = sorted({r["cid"] for r in probes.select("cid").collect()})
    idx_scan = spark.read.parquet(
        os.path.join(idx_root, "assignments")
    ).filter(F.col("cid").isin(probe_cids))

    cos = F.expr(
        f"round({_DOT.format(a='q_vec', b='c_vec')} / (q_nrm * c_nrm), 4)"
    )
    w10 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("cand_id")
    )
    idx10 = (
        idx_scan.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine"))
        .withColumn("ri", F.row_number().over(w10))
        .filter(F.col("ri") <= _RANK_K)
        .select("query_id", "cand_id", "ri")
    )

    c = base.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_vec"),
        F.col("nrm").alias("c_nrm"),
    )
    exact10 = (
        F.broadcast(qs.select("query_id", "q_vec", "q_nrm"))
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cos.alias("cosine"))
        .withColumn("r", F.row_number().over(w10))
        .filter(F.col("r") <= _RANK_K)
        .select("query_id", "cand_id", F.lit(1).alias("rel"))
    )

    scored = idx10.join(
        F.broadcast(exact10), ["query_id", "cand_id"], "left"
    ).select(
        "query_id", "ri", F.coalesce("rel", F.lit(0)).alias("rel")
    )

    perq = (
        qs.select("query_id")
        .join(scored, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(F.sum("rel"), F.lit(0)).cast("bigint").alias("hits"),
            F.coalesce(
                F.sum(F.col("rel") * F.expr(_rank_case("ri", _DISC_I))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("dcg_i"),
            F.min(F.when(F.col("rel") == 1, F.col("ri"))).alias(
                "first_rank"
            ),
        )
        .select(
            "query_id",
            "hits",
            "dcg_i",
            F.expr(_rank_case("first_rank", _MRR_I))
            .cast("bigint")
            .alias("mrr_i"),
        )
    )

    n = F.count(F.lit(1))
    return perq.agg(
        n.cast("bigint").alias("n_queries"),
        F.sum((F.col("hits") == 0).cast("int"))
        .cast("bigint")
        .alias("n_zero_hit"),
        F.sum("hits").cast("bigint").alias("n_hits_total"),
        F.round(
            F.sum("hits").cast("double") / (F.lit(float(_RANK_K)) * n), 6
        ).alias("recall_at10"),
        F.round(
            F.sum("mrr_i").cast("double") / (F.lit(1.0e12) * n), 6
        ).alias("mrr_at10"),
        F.round(
            F.sum("dcg_i").cast("double") / (F.lit(float(_IDCG_I)) * n), 6
        ).alias("ndcg_at10"),
    )


# square INSIDE the transform, fold pure addition: DuckDB list_reduce
# has no seed (acc starts at the first ELEMENT), so the squared terms
# must exist before the fold; Spark's aggregate(0.0, +) then matches
# exactly (0.0 + z1^2 == z1^2 in IEEE754)
_OUTLIER_Z_SPARK = (
    "(CAST(element_at(embedding, i) AS DOUBLE) - element_at(mu, i))"
    " / nullif(element_at(sig, i), 0.0)"
)
_OUTLIER_SCORE_SPARK = (
    "aggregate(transform(sequence(1, 64), i -> "
    f"({_OUTLIER_Z_SPARK}) * ({_OUTLIER_Z_SPARK})), "
    "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
)

_OUTLIER_Z_DUCK = (
    "(CAST(embedding[i] AS DOUBLE) - mu[i]) / nullif(sig[i], 0.0)"
)
_OUTLIER_SCORE_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> "
    f"({_OUTLIER_Z_DUCK}) * ({_OUTLIER_Z_DUCK})), (acc, z) -> acc + z)"
)


@register(
    "embedding_outlier_screen",
    f"""
    WITH dims AS (
      SELECT r.i AS i,
             ROUND(CAST(embedding[r.i] AS DOUBLE), 12) AS x
      FROM embeddings, unnest(range(1, 65)) AS r(i)
    ),
    stats AS (
      SELECT i,
             {{mu}} AS mu,
             sqrt({{sxx}} / COUNT(*) - {{mu}} * {{mu}}) AS sig
      FROM dims GROUP BY i
    ),
    srow AS (
      SELECT list(mu ORDER BY i) AS mu, list(sig ORDER BY i) AS sig
      FROM stats
    ),
    scored AS (
      SELECT vec_id, label,
             ROUND({_OUTLIER_SCORE_DUCK}, 6) AS score
      FROM embeddings, srow
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(CASE WHEN score > 110.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
      FROM scored
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS INT)
             AS rk,
           vec_id, CAST(label AS INT) AS label, score,
           (SELECT n_vectors FROM g) AS n_vectors,
           (SELECT n_flagged FROM g) AS n_flagged
    FROM scored
    ORDER BY score DESC, vec_id
    LIMIT 10
    """.replace("{mu}", avg_exact_sql("x")).replace(
        "{sxx}",
        "CAST(CAST(CAST(SUM(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(38,12)))"
        " AS VARCHAR) AS DOUBLE) AS DOUBLE)",
    ),
    doc="EMBEDDING OUTLIER SCREEN — the corrupt-vector triage before "
    "training or indexing (encoder bugs, truncated payloads, and "
    "unit-scale mix-ups land far from the population in standardized "
    "distance): per-dim population mean/std from ONE decimal pass "
    "(12-dp-quantized x and x^2, the moment-statistics discipline), "
    "then each vector's score = sum_i ((x_i - mu_i)/sigma_i)^2 via an "
    "indexed transform + explicit LEFT fold (identical fold both "
    "engines — never list_sum), top-10 by (score DESC, vec_id) with "
    "the corpus size and the count above the chi-square-ish flag "
    "threshold (110 ~ d + 4*sqrt(2d) at d=64) carried on every row. "
    "On this well-formed isotropic corpus scores concentrate near "
    "d=64 and n_flagged is the measured tail truth, not an "
    "assumption.  Scale: the stats table is O(d), broadcast back as "
    "ONE row; the scan is one pass; top-10 is a TakeOrdered heap. "
    "Degenerate zero-variance dims NULL out via nullif (identical "
    "NULL propagation both engines) instead of dividing by zero.",
)
def embedding_outlier_screen(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.exact import avg_exact
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    dims = emb.select(
        F.explode(
            F.expr(
                "transform(sequence(1, 64), i -> struct(i AS i, "
                "round(CAST(element_at(embedding, i) AS DOUBLE), 12)"
                " AS x))"
            )
        ).alias("t")
    ).select("t.i", "t.x")
    sxx = (
        F.sum(
            (F.col("x") * F.col("x"))
            .cast("string")
            .cast("decimal(38,12)")
        )
        .cast("string")
        .cast("double")
    )
    stats = dims.groupBy("i").agg(
        avg_exact("x").alias("mu"),
        F.sqrt(
            sxx / F.count(F.lit(1)) - avg_exact("x") * avg_exact("x")
        ).alias("sig"),
    )
    srow = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, mu))), e -> e.mu)"
        ).alias("mu"),
        F.expr(
            "transform(array_sort(collect_list(struct(i, sig))), e -> e.sig)"
        ).alias("sig"),
    )
    scored = emb.crossJoin(F.broadcast(srow)).select(
        "vec_id",
        "label",
        F.round(F.expr(_OUTLIER_SCORE_SPARK), 6).alias("score"),
    )
    g = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum((F.col("score") > 110.0).cast("int"))
        .cast("bigint")
        .alias("n_flagged"),
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("score"), "vec_id").limit(10)
    w = Window.orderBy(F.desc("score"), "vec_id")
    return (
        top.withColumn("rk", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(g))
        .select(
            "rk",
            "vec_id",
            F.col("label").cast("int").alias("label"),
            "score",
            "n_vectors",
            "n_flagged",
        )
        .orderBy(F.desc("score"), "vec_id")
    )


@register(
    "hard_negative_mining",
    f"""
    WITH qs AS (
      SELECT vec_id, label, embedding
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 64
    ),
    scored AS (
      SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
             c.vec_id AS neg_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM qs q JOIN embeddings c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
    ),
    ranked AS (
      SELECT anchor_id, anchor_label, neg_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cosine DESC, neg_id) AS neg_rank
      FROM scored
    )
    SELECT anchor_id, CAST(anchor_label AS INT) AS anchor_label,
           CAST(neg_rank AS INT) AS neg_rank, neg_id, cosine
    FROM ranked WHERE neg_rank <= 4
    ORDER BY anchor_id, neg_rank
    """,
    doc="HARD-NEGATIVE MINING for contrastive training (the DPR/SimCSE "
    "data-prep step: negatives that are semantically CLOSE but "
    "differently labeled teach the margin; random negatives are "
    "already far away and teach nothing): for a fixed 64-anchor "
    "md5-order sample, the top-4 highest-cosine OTHER-label vectors "
    "per anchor, with deterministic (4-dp cosine, neg_id) tie-breaks. "
    "Scale: the anchor side is O(64) and broadcasts; the candidate "
    "scan is one linear pass (TakeOrdered per anchor partition via "
    "WindowGroupLimit on the rank filter); at production scale the "
    "same mining runs through the partition-pruned IVF probe "
    "(ann_index_filtered_probe's shape) with label != anchor pushed "
    "into the index scan.",
)
def hard_negative_mining(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.similarity import (
        _DOT,
        spread_small_scan,
    )

    raw = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    nrm = F.expr(f"sqrt({_DOT.format(a='embedding', b='embedding')})")
    q = _fixed_n_queries(raw, n=64).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("q_vec"),
        nrm.alias("q_nrm"),
    )
    c = raw.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_vec"),
        nrm.alias("c_nrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col("neg_id") != F.col("anchor_id"))
            & (F.col("c_label") != F.col("anchor_label"))
        )
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            F.expr(
                f"round({_DOT.format(a='q_vec', b='c_vec')}"
                " / (q_nrm * c_nrm), 4)"
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), "neg_id")
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 4)
        .select(
            "anchor_id",
            F.col("anchor_label").cast("int").alias("anchor_label"),
            F.col("neg_rank").cast("int").alias("neg_rank"),
            "neg_id",
            "cosine",
        )
        .orderBy("anchor_id", "neg_rank")
    )


# --- SQ8 scalar quantization (FAISS ScalarQuantizer QT_8bit) ---------------
#
# Per-dimension affine codec: train (min_d, step_d = (max_d - min_d)/255)
# over the corpus, encode every vector as 64 uint8 codes, search with the
# ASYMMETRIC distance (raw query vs dequantized candidate).  Same fold
# discipline as embedding_outlier_screen: squared term built INSIDE the
# transform, explicit left fold (DuckDB list_reduce has no seed, Spark's
# aggregate(0.0, +) matches because 0.0 + z1^2 == z1^2 in IEEE754).

_SQ8_DEQ_SPARK = "(element_at(mins, i) + element_at(code, i) * element_at(steps, i))"
_SQ8_DIFF_SPARK = f"(element_at(qv, i) - {_SQ8_DEQ_SPARK})"
_SQ8_SCORE_SPARK = (
    "aggregate(transform(sequence(1, 64), i -> "
    f"({_SQ8_DIFF_SPARK}) * ({_SQ8_DIFF_SPARK})), "
    "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
)
def _sq_code_spark(levels: int) -> str:
    """Per-dimension affine quantizer to codes 0..levels (levels =
    2^bits - 1) — SQ8 is levels=255; the sweep reuses the same expr at
    15 (SQ4) and 63 (SQ6)."""
    return (
        f"transform(sequence(1, 64), i -> greatest(0, least({levels}, "
        "CAST(floor((CAST(element_at(embedding, i) AS DOUBLE)"
        " - element_at(mins, i)) / element_at(steps, i) + 0.5D) AS INT))))"
    )


_SQ8_CODE_SPARK = _sq_code_spark(255)

_SQ8_DEQ_DUCK = "(mins[i] + code[i] * steps[i])"
_SQ8_DIFF_DUCK = f"(qv[i] - {_SQ8_DEQ_DUCK})"
_SQ8_SCORE_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> "
    f"({_SQ8_DIFF_DUCK}) * ({_SQ8_DIFF_DUCK})), (acc, z) -> acc + z)"
)
@register(
    "ann_sq8_adc_topk",
    f"""
    WITH dims AS (
      SELECT r.i AS i,
             MIN(CAST(embedding[r.i] AS DOUBLE)) AS mn,
             MAX(CAST(embedding[r.i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(range(1, 65)) AS r(i)
      GROUP BY r.i
    ),
    srow AS (
      SELECT list(mn ORDER BY i) AS mins,
             list(CASE WHEN mx > mn THEN (mx - mn) / 255 ELSE 1.0 END
                  ORDER BY i) AS steps
      FROM dims
    ),
    codes AS (
      SELECT vec_id,
             list_transform(range(1, 65), i -> GREATEST(0, LEAST(255,
               CAST(floor((CAST(embedding[i] AS DOUBLE) - mins[i])
                          / steps[i] + 0.5) AS INT)))) AS code
      FROM embeddings, srow
    ),
    qs AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    adc AS (
      SELECT q.query_id, c.vec_id AS cand_id,
             ROUND({_SQ8_SCORE_DUCK}, 6) AS adc_dist
      FROM codes c, qs q, srow
      WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_dist, cand_id) AS INT) AS rank
      FROM adc
    )
    SELECT query_id, cand_id, adc_dist, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    doc="SQ8 scalar-quantized ANN (FAISS ScalarQuantizer QT_8bit) — the "
    "codec that completes the compression ladder next to PQ/IVFPQ: "
    "train a per-DIMENSION affine codec (min_d, step_d=(max_d-min_d)/255) "
    "in one pass, store every vector as 64 uint8 codes (4x smaller than "
    "float32, no codebook training), search with the asymmetric distance "
    "— raw query against dequantized candidate, so only the 64-byte "
    "codes are scanned.  Dataflow: the dim-stats table is O(d) rows -> "
    "ONE broadcast row of (mins, steps); encode is a scan-side "
    "projection; the 5-query probe broadcasts onto the code scan; "
    "top-5 per query via rank window over 5 x n rows.  Zero-range "
    "dims get step=1.0 so code=0 and dequant==min (no 0/0, identical "
    "both engines); squared terms fold with the explicit left fold "
    "(never list_sum).  At 100 TB the code table is the thing you "
    "materialize: 16x less scan I/O than raw vectors with ~1%-scale "
    "distance error, and unlike PQ the codec has no training argmin "
    "to drift",
)
def ann_sq8_adc_topk(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    return _sq8_ranked(emb, k=5)


def _sq8_ranked(emb, k: int):
    """SQ8 ADC top-k over the fixed vec_id<5 probe set — shared by the
    registered top-k query (k=5) and the recall gates (k=10) so codec,
    encode, and distance stay one implementation."""
    return _sq_ranked(emb, k, levels=255)


def _sq_ranked(emb, k: int, levels: int):
    """Scalar-quantized ADC top-k at an arbitrary bit budget (levels =
    2^bits - 1): the SQ8 chain with the level count as the only free
    parameter — one codec implementation across the whole
    recall-vs-bytes sweep."""
    dims = emb.select(
        F.explode(
            F.expr(
                "transform(sequence(1, 64), i -> struct(i AS i, "
                "CAST(element_at(embedding, i) AS DOUBLE) AS x))"
            )
        ).alias("t")
    ).select("t.i", "t.x")
    stats = dims.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    srow = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, mn))), e -> e.mn)"
        ).alias("mins"),
        F.expr(
            "transform(array_sort(collect_list(struct(i, mn, mx))), "
            f"e -> CASE WHEN e.mx > e.mn THEN (e.mx - e.mn) / {levels}D "
            "ELSE 1.0D END)"
        ).alias("steps"),
    )
    codes = emb.crossJoin(F.broadcast(srow)).select(
        "vec_id", F.expr(_sq_code_spark(levels)).alias("code")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("qv"),
    )
    from pyspark.sql import Window

    adc = (
        codes.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .crossJoin(F.broadcast(srow))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(F.expr(_SQ8_SCORE_SPARK), 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# exact-L2 twin of the ADC fold for the recall gate — same explicit left
# fold, raw candidate vector instead of the dequantized codes
_L2_SCORE_SPARK = (
    "aggregate(transform(sequence(1, 64), i -> "
    "(element_at(qv, i) - element_at(cv, i))"
    " * (element_at(qv, i) - element_at(cv, i))), "
    "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
)
_L2_SCORE_DUCK = (
    "list_reduce(list_transform(range(1, 65), i -> "
    "(q.qv[i] - c.v[i]) * (q.qv[i] - c.v[i])), (acc, z) -> acc + z)"
)


@register(
    "ann_recall_sq8",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT r.i AS i, MIN(v[r.i]) AS mn, MAX(v[r.i]) AS mx
      FROM emb, unnest(range(1, 65)) AS r(i)
      GROUP BY r.i
    ),
    srow AS (
      SELECT list(mn ORDER BY i) AS mins,
             list(CASE WHEN mx > mn THEN (mx - mn) / 255 ELSE 1.0 END
                  ORDER BY i) AS steps
      FROM dims
    ),
    codes AS (
      SELECT vec_id,
             list_transform(range(1, 65), i -> GREATEST(0, LEAST(255,
               CAST(floor((v[i] - mins[i]) / steps[i] + 0.5) AS INT))))
               AS code
      FROM emb, srow
    ),
    qs AS (
      SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5
    ),
    bf AS (
      SELECT query_id, cand_id FROM (
        SELECT q.query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ROUND({_L2_SCORE_DUCK}, 6), c.vec_id) AS rank
        FROM qs q JOIN emb c ON c.vec_id <> q.query_id
      ) WHERE rank <= 10
    ),
    sq8 AS (
      SELECT query_id, cand_id FROM (
        SELECT q.query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ROUND({_SQ8_SCORE_DUCK.replace('code[i]', 'c.code[i]')}, 6),
                 c.vec_id) AS rank
        FROM codes c, qs q, srow
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= 10
    )
    SELECT 'sq8_adc' AS method,
           CAST((SELECT COUNT(*) FROM sq8
                 JOIN bf USING (query_id, cand_id)) AS BIGINT) AS hits,
           CAST((SELECT COUNT(*) FROM bf) AS BIGINT) AS total,
           ROUND(CAST((SELECT COUNT(*) FROM sq8
                       JOIN bf USING (query_id, cand_id)) AS DOUBLE)
                 / (SELECT COUNT(*) FROM bf), 6) AS recall
    """,
    doc="SQ8 recall honesty gate — recall@10 of the scalar-quantized ADC "
    "scan against the EXACT L2 top-10 on the same 5 probes (same "
    "metric: L2 vs L2, so the number isolates QUANTIZATION loss, not "
    "a cosine/L2 metric mismatch).  8-bit-per-dim quantization on a "
    "64-dim corpus should sit near 1.0 — pytest floors it at 0.8 and "
    "records the measured value; the ann_recall_ivfpq discipline "
    "(every ANN operating point ships with its measured recall, "
    "never an assumed one).  Both legs tie-break (rounded dist, "
    "cand_id) so the comparison is deterministic across engines",
)
def ann_recall_sq8(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    bf = _l2_bf_top10(emb)
    sq8 = _sq8_ranked(emb, k=10).select("query_id", "cand_id")
    return _recall_row(sq8, bf, "sq8_adc")


def _l2_bf_top10(emb):
    """Exact-L2 top-10 ground truth over the vec_id<5 probe set —
    localCheckpoint-pinned so every sweep leg compares against the SAME
    materialized truth (one brute-force pass, not one per operating
    point)."""
    from pyspark.sql import Window

    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    qs = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    cands = base.select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy("d", "cand_id")
    return (
        cands.join(F.broadcast(qs), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(F.expr(_L2_SCORE_SPARK), 6).alias("d"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )


def _recall_row(approx_pairs, bf, method: str):
    """(hits, total, recall) of an approximate top-10 pair set against
    the exact ground truth — the shared gate algebra."""
    hits = approx_pairs.join(bf, ["query_id", "cand_id"], "semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("hits")
    )
    total = bf.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return hits.crossJoin(total).select(
        F.lit(method).alias("method"),
        "hits",
        "total",
        F.round(
            F.col("hits").cast("double") / F.col("total"), 6
        ).alias("recall"),
    )


def _sq_sweep_leg_duck(bits: int) -> str:
    """One operating point's CTEs for the sweep oracle: per-bits codec
    row (same mins, steps scaled by 2^bits - 1), encode, ADC top-10."""
    lv = (1 << bits) - 1
    score = _SQ8_SCORE_DUCK.replace("code[i]", "c.code[i]")
    return f"""
    srow{bits} AS (
      SELECT list(mn ORDER BY i) AS mins,
             list(CASE WHEN mx > mn THEN (mx - mn) / {lv} ELSE 1.0 END
                  ORDER BY i) AS steps
      FROM dims
    ),
    codes{bits} AS (
      SELECT vec_id,
             list_transform(range(1, 65), i -> GREATEST(0, LEAST({lv},
               CAST(floor((v[i] - mins[i]) / steps[i] + 0.5) AS INT))))
               AS code
      FROM emb, srow{bits}
    ),
    sq{bits} AS (
      SELECT query_id, cand_id FROM (
        SELECT q.query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ROUND({score}, 6), c.vec_id) AS rank
        FROM codes{bits} c, qs q, srow{bits}
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= 10
    )"""


def _sq_sweep_row_duck(bits: int) -> str:
    return f"""
      SELECT 'sq{bits}_adc' AS method, {bits} AS bits,
             CAST({64 * bits // 8} AS BIGINT) AS bytes_per_vec,
             CAST((SELECT COUNT(*) FROM sq{bits}
                   JOIN bf USING (query_id, cand_id)) AS BIGINT) AS hits,
             CAST((SELECT COUNT(*) FROM bf) AS BIGINT) AS total,
             ROUND(CAST((SELECT COUNT(*) FROM sq{bits}
                         JOIN bf USING (query_id, cand_id)) AS DOUBLE)
                   / (SELECT COUNT(*) FROM bf), 6) AS recall"""


_SQ_SWEEP_SQL = f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT r.i AS i, MIN(v[r.i]) AS mn, MAX(v[r.i]) AS mx
      FROM emb, unnest(range(1, 65)) AS r(i)
      GROUP BY r.i
    ),
    qs AS (
      SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5
    ),
    bf AS (
      SELECT query_id, cand_id FROM (
        SELECT q.query_id, c.vec_id AS cand_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 ROUND({_L2_SCORE_DUCK}, 6), c.vec_id) AS rank
        FROM qs q JOIN emb c ON c.vec_id <> q.query_id
      ) WHERE rank <= 10
    ),{','.join(_sq_sweep_leg_duck(b) for b in (4, 6, 8))}
    SELECT * FROM (
      {' UNION ALL '.join(_sq_sweep_row_duck(b) for b in (4, 6, 8))}
    ) ORDER BY bits
    """


@register(
    "ann_recall_sq_sweep",
    _SQ_SWEEP_SQL,
    doc="Scalar-quantization OPERATING-POINT SWEEP — the recall-vs-bytes "
    "curve an index designer actually reads (the ann_recall_at_k "
    "n_probe-sweep shape, applied to the compression axis): SQ4 (32 "
    "B/vec), SQ6 (48 B/vec), SQ8 (64 B/vec) all encode with the SAME "
    "one-pass per-dimension affine codec (_sq_ranked, levels = 2^bits "
    "- 1 the only free parameter) and score recall@10 against ONE "
    "localCheckpoint-pinned exact-L2 ground truth, so the three rows "
    "differ only in bit budget — the measured curve, not three "
    "incomparable experiments.  Pytest floors each operating point "
    "(monotone non-decreasing in bits; SQ8 >= 0.8) per the "
    "ann_recall_ivfpq discipline: every ANN operating point ships with "
    "its measured recall.  Scale: the brute-force truth is 5-probe-"
    "capped; each sweep leg scans only the code table (2-4x less I/O "
    "than float32); dim stats are one map-side-combinable pass",
)
def ann_recall_sq_sweep(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    bf = _l2_bf_top10(emb)
    out = None
    for bits in (4, 6, 8):
        pairs = _sq_ranked(emb, k=10, levels=(1 << bits) - 1).select(
            "query_id", "cand_id"
        )
        row = _recall_row(pairs, bf, f"sq{bits}_adc").select(
            "method",
            F.lit(bits).cast("int").alias("bits"),
            F.lit(64 * bits // 8).cast("bigint").alias("bytes_per_vec"),
            "hits",
            "total",
            "recall",
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("bits")


# --- rotated PQ (the OPQ idea, structured: Hadamard x deterministic signs) --

import hashlib as _hashlib  # noqa: E402

#: deterministic diagonal sign bits s_j = md5(j) parity — materialized as a
#: literal in BOTH engines' texts so the rotation cannot drift
_HD_SIGNS = [
    int(_hashlib.md5(str(j).encode()).hexdigest()[:2], 16) % 2
    for j in range(1, 65)
]


def _hd_rotate_spark() -> str:
    """R v = H diag(+-1) v / sqrt(64) via the FAST Walsh-Hadamard
    transform: sign-flip the input, then 6 butterfly stages (h = 2^b:
    y[i] = x[i] + x[i+h] on the even half-block, x[i-h] - x[i] on the
    odd), then /8.  Identical result to the dense H[i][j] =
    (-1)^popcount((i-1)&(j-1)) product (numpy-pinned in tests), but
    O(64 log 64) adds per vector instead of O(64^2) CASE terms — the
    dense form's 4096-term expression was the query's 6-7 s codegen
    hotspot (r12 verdict item #4) and would be the per-vector flop
    bottleneck at 100 TB.  One expression (the stage fold binds acc), so
    callers still write F.expr(...); butterfly association order is
    IDENTICAL to the DuckDB CTE chain, keeping the legs bit-equal
    cross-engine.  1/8 is a binary power — exact."""
    signs = ", ".join(str(s) for s in _HD_SIGNS)
    flip = (
        f"transform(sequence(1, 64), j -> "
        f"CASE WHEN element_at(array({signs}), j) = 1 "
        "THEN -element_at(v, j) ELSE element_at(v, j) END)"
    )
    return (
        f"aggregate(sequence(0, 5), {flip}, (acc, b) -> "
        "transform(sequence(1, 64), i -> "
        "CASE WHEN ((i - 1) DIV shiftleft(1, b)) % 2 = 0 "
        "THEN element_at(acc, i) + element_at(acc, i + shiftleft(1, b)) "
        "ELSE element_at(acc, i - shiftleft(1, b)) - element_at(acc, i) "
        "END), acc -> transform(acc, e -> e / 8D))"
    )


def _hd_rotate_duck_ctes(src: str = "emb", out: str = "rotv") -> str:
    """DuckDB twin of :func:`_hd_rotate_spark` as a CTE chain (DuckDB
    1.0's list_reduce cannot thread a LIST accumulator, so the 6
    butterfly stages chain as CTEs — each referenced once, no inline
    blowup).  Same stage order and elementwise ops as the Spark fold."""
    signs = ", ".join(str(s) for s in _HD_SIGNS)
    ctes = [
        f"hd0 AS (SELECT vec_id, list_transform(range(1, 65), j -> "
        f"CASE WHEN ([{signs}])[j] = 1 THEN -v[j] ELSE v[j] END) AS x "
        f"FROM {src})"
    ]
    for b in range(6):
        h = 1 << b
        ctes.append(
            f"hd{b + 1} AS (SELECT vec_id, list_transform(range(1, 65), "
            f"i -> CASE WHEN ((i - 1) // {h}) % 2 = 0 "
            f"THEN x[i] + x[i + {h}] ELSE x[i - {h}] - x[i] END) AS x "
            f"FROM hd{b})"
        )
    ctes.append(
        f"{out} AS (SELECT vec_id, list_transform(x, e -> e / 8) AS v "
        "FROM hd6)"
    )
    return ",\n    ".join(ctes)


@register(
    "ann_pq_rotated_recall",
    f"""
    WITH {_BF10_SQL},
    emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    {_hd_rotate_duck_ctes('emb', 'rotv')},
    subvecs AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM emb e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    subvecs_rot AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM rotv e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(16, '_t16', train=True)},
    {_pq_sql_ctes(16, '_rt16', train=True, emb='rotv',
                  subvecs='subvecs_rot')},
    pq_raw AS (SELECT query_id, cand_id FROM pq_ranked_t16 WHERE rank <= 10),
    pq_rot AS (
      SELECT query_id, cand_id FROM pq_ranked_rt16 WHERE rank <= 10
    )
    {_recall_row_sql('pq_raw')}
    UNION ALL
    {_recall_row_sql('pq_rot')}
    ORDER BY method
    """,
    doc="ROTATED PQ recall gate — the OPQ insight (Ge et al. 2013: PQ "
    "quantization error depends on how variance distributes across "
    "subspaces; an orthogonal rotation before encoding rebalances it) "
    "in its structured, relationally-expressible form: R = "
    "H * diag(+-1) / sqrt(64) with H the 64-dim Hadamard matrix "
    "(H[i][j] = (-1)^popcount((i-1)&(j-1))) and deterministic md5 sign "
    "bits — the HD rotation used by structured-projection ANN systems. "
    "R is exactly orthogonal and 1/8 is a binary power, so true L2 is "
    "preserved and the exact ground truth is UNCHANGED; only the PQ "
    "grid moves.  Both legs (raw / rotated) train the identical "
    "m=4, k=16, 1-Lloyd-round codebook chain and report recall@10 "
    "against the same pinned truth — the measured answer to 'does a "
    "rotation help PQ on THIS corpus', not an assumption either way.  "
    "Scale: the rotation is a scan-side projection (4096 adds/vector, "
    "no shuffle); everything downstream is the existing PQ dataflow",
)
def ann_pq_rotated_recall(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    qs = emb.filter(F.col("vec_id") < 5)
    bf = (
        S.brute_force_topk(emb, qs, k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    total = bf.agg(F.count(F.lit(1)).alias("total"))
    # BOTH legs feed _pq_parts_v from an eagerly-checkpointed (vec_id, v)
    # table of identical shape (r12 verdict item #4): the raw leg going
    # through _pq_parts(emb) while the rotated leg inlined the 4096-term
    # Hadamard fold through its whole trained-PQ chain made the two legs
    # compile as two DIFFERENT giant codegen units — the query's 10-11 s
    # first-execution cost and the suite's 4.5-21.5 s spread.  Pinning
    # the inputs makes the downstream chains structurally identical, so
    # the second leg compiles against the first's codegen cache and the
    # rotation fold is evaluated exactly once per vector at the pin.
    # Values are unchanged (raw-leg equality with _pq_parts was already
    # pytested; re-oracled at sf0.001 + sf0.01).
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).localCheckpoint(eager=True)
    rot = base.select(
        "vec_id", F.expr(_hd_rotate_spark()).alias("v")
    ).localCheckpoint(eager=True)

    def leg(df, method):
        return (
            df.select("query_id", "cand_id")
            .join(bf, ["query_id", "cand_id"], "semi")
            .agg(F.count(F.lit(1)).alias("hits"))
            .withColumn("method", F.lit(method))
            .crossJoin(total)
        )

    # trained artifacts come from the family stage cache (r13 verdict
    # item 2): the raw key is shared with ann_pq_adc_trained_topk /
    # ann_recall_trained / the IVFPQ index build, the hd key with
    # ann_opq_trained_recall's baseline leg — one Lloyd round per
    # (variant, corpus) across the whole suite
    parts_raw = _pq_trained_cached(spark, base, f"pqt16_raw:{sf_dir}")
    parts_rot = _pq_trained_cached(spark, rot, f"pqt16_hd:{sf_dir}")
    out = leg(
        _pq_adc_topk(None, k=10, k_codes=16, parts=parts_raw),
        "pq_raw",
    ).unionAll(
        leg(
            _pq_adc_topk(None, k=10, k_codes=16, parts=parts_rot),
            "pq_rot",
        )
    )
    return out.select(
        "method",
        "hits",
        "total",
        F.round(F.col("hits").cast("double") / F.col("total"), 6).alias(
            "recall"
        ),
    ).orderBy("method")


# --- trained OPQ (Ge et al. 2013 §3: non-parametric alternating argmin) ----

#: Newton-Schulz polar iterations.  The embeddings' M = Xhat X' is
#: EXACTLY singular in 3 directions (measured: sigma ~1e-11 at sf0.001
#: and sf0.01 — the PQ reconstructions don't span them), so the
#: Procrustes subproblem is damped toward the HD prior (_OPQ_DAMP x
#: scale x R_hd added to M): null directions fall back to the
#: initialization instead of being left undefined, data-supported
#: directions (sigma >= 0.09 x scale) move by < 1e-2 relative.  24
#: iterations converge the damped U0 (sigma_min ~5e-3) to orthogonality
#: <= 1e-9 (measured; pytest gates 1e-6).
_OPQ_NS_ITERS = 24
_OPQ_DAMP = 0.01


def _hd_parity(idiv: str) -> str:
    """popcount((i-1) & (j-1)) % 2 for 6-bit indices as pure integer
    arithmetic (engine-portable — no bit_count dependency); ``idiv`` is
    the engine's integer-division operator.  Used for the LITERAL
    R_hd[i][j] = (-1)^(parity+sign_j) / 8 entries of the damping prior
    (the fast rotation itself runs as the FWHT butterfly)."""
    x = "((i - 1) & (j - 1))"
    return "(" + " + ".join(
        f"(({x} {idiv} {1 << b}) % 2)" for b in range(6)
    ) + ")"


def _hd_matrix_np():
    """The literal R_hd as a numpy array (entries +-1/8, exact)."""
    import numpy as np

    h = np.array(
        [
            [(-1.0) ** bin(i & j).count("1") for j in range(64)]
            for i in range(64)
        ]
    )
    return h @ np.diag([(-1.0) ** s for s in _HD_SIGNS]) / 8.0


def _ns_polar_np(m, s):
    """Driver-side Newton-Schulz polar factor of the damped M — the OPQ
    R-update argmin_R ||R X - Xhat|| (= polar factor of M = Xhat X',
    Higham).  A 64x64 iteration is metadata-scale work: it runs on the
    driver (the logistic_gd precedent — bounded O(d^2) state, zero data
    motion), while the DuckDB oracle replays the IDENTICAL arithmetic as
    single-row 4096-array fold CTEs (_opq_ns_sql).  Bit-equality needs
    no rounding anywhere: both sides perform the same IEEE-double ops in
    the same order — matmul entries accumulate in ascending k (numpy
    rank-1 updates == the engines' left-to-right list_reduce fold), and
    3-A / 0.5*C are elementwise single ops."""
    import numpy as np

    u = (m + (_OPQ_DAMP * s) * _hd_matrix_np()) / (1.01 * s)
    diag = np.eye(64, dtype=bool)
    for _ in range(_OPQ_NS_ITERS):
        a = np.zeros((64, 64))
        for k in range(64):  # ascending-k accumulation == the SQL fold
            a += np.outer(u[k, :], u[k, :])
        # 3 - a on the diagonal, NEGATION (sign-bit flip, not 0 - a) off
        # it — matching the SQL's CASE ... ELSE -a END bit-for-bit
        b = np.where(diag, 3.0 - a, -a)
        c = np.zeros((64, 64))
        for k in range(64):
            c += np.outer(u[:, k], b[k, :])
        u = 0.5 * c
    return u


def _opq_m0(base, parts_hd):
    """M = Xhat X' as a (i, j, v) table, factored through the codebook:
    x-hat is constant within a (subspace, code) cell, so M decomposes as
    sum over codes of cw (x) sx with sx = the per-cell raw-coordinate
    sums — N x 64 explode into 4096 decimal-summed cells, then 65k
    codeword-level products, instead of N x 4096 per-vector products
    (the naive Gram pass measured 15 s at sf0.1; this is ~1 s and the
    SAME at any corpus size past the cell reduction).  Products and the
    cell sums round 12 dp into DECIMAL(38,12) (order-independent), so
    the collected matrix matches the oracle's m0 CTE."""
    dec = "decimal(38,12)"
    _, cb, enc, _ = parts_hd
    xr = base.select(
        "vec_id", F.posexplode("v").alias("p", "x")
    ).select("vec_id", (F.col("p") + 1).alias("j"), "x")
    sx = (
        enc.select("vec_id", "subspace", "code")
        .join(xr, "vec_id")
        .groupBy("subspace", "code", "j")
        .agg(
            F.sum(F.round(F.col("x"), 12).cast(dec))
            .cast("double")
            .alias("sx")
        )
    )
    cwx = cb.select(
        "subspace", "code", F.posexplode("cw").alias("p", "cx")
    ).select(
        "subspace",
        "code",
        (F.col("subspace") * _PQ_D + F.col("p") + 1).cast("int").alias("i"),
        "cx",
    )
    return (
        cwx.join(sx, ["subspace", "code"])
        .groupBy("i", "j")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("cx") * F.col("sx"), 12).cast(dec)
                ).cast("double"),
                12,
            ).alias("v")
        )
    )


def _opq_rotation(base, parts_hd):
    """The trained OPQ rotation as a numpy 64x64: M aggregated
    engine-side (bit-equal to the oracle's m0), the scale and polar
    iteration replayed on the driver with the exact arithmetic the
    oracle's CTE chain performs.  Exposed for the orthogonality
    pytest."""
    import numpy as np

    rows = _opq_m0(base, parts_hd).collect()
    m = np.zeros((64, 64))
    for r in rows:
        m[r["i"] - 1, r["j"] - 1] = r["v"]
    # scale s = ROUND(sqrt(max_col_abs_sum * max_row_abs_sum), 12): the
    # 12-dp m entries sum EXACTLY in 1e-12 integer units (64 terms x
    # <=~1e13 units << 2^53), and unit-count/1e12 is the same correctly-
    # rounded double the engines' DECIMAL->VARCHAR->DOUBLE cast yields
    units = np.rint(m * 1e12)
    n1 = np.abs(units).sum(axis=0).max() / 1e12
    ninf = np.abs(units).sum(axis=1).max() / 1e12
    s = _round12(float(np.sqrt(n1 * ninf)))
    return _ns_polar_np(m, s)


def _round12(x: float) -> float:
    """Spark's ROUND(double, 12): BigDecimal.valueOf (shortest decimal
    repr) + HALF_UP — replicated exactly via Decimal(repr(x))."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("1E-12"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _apply_rotation(base, r):
    """x -> R x as a PER-ROW fold: the driver-computed R ships as a
    4096-element row-major LITERAL array (constant-folded once) and each
    output coordinate is an ascending-j aggregate over it — scan-side,
    no explode, no shuffle, no decimal pass (the groupBy-matmul form
    this replaces cost 2.7 s at sf0.1).  The DuckDB twin runs the
    identical fold over its own rfin-derived array, so the rotated
    coordinates stay bit-equal with no rounding anywhere."""
    rflat = ", ".join(repr(float(x)) for x in r.flatten())
    return base.select(
        "vec_id",
        F.expr(
            "transform(sequence(1, 64), i2 -> "
            "aggregate(sequence(1, 64), 0D, (acc, j2) -> "
            f"acc + element_at(array({rflat}), (i2 - 1) * 64 + j2) "
            "* element_at(v, j2)))"
        ).alias("v"),
    )


def _mse_of(enc):
    """Mean per-vector squared reconstruction error of an encoded table
    that kept its argmin distance d — the OPQ objective, decimal-summed
    at 6 dp exactly like pq_encode_profile."""
    dec = "decimal(38,12)"
    return enc.agg(
        F.round(
            F.sum(F.round(F.col("d"), 6).cast(dec)).cast("double")
            / (F.count(F.lit(1)) / F.lit(_PQ_M)),
            6,
        ).alias("mse")
    )


def _opq_ns_sql(iters: int = _OPQ_NS_ITERS) -> str:
    """DuckDB twin of :func:`_ns_polar_np`: the damped scale, U0, and
    the polar iteration as single-row 4096-array MATERIALIZED CTEs whose
    matmul entries are left-to-right list_reduce folds over ascending k
    — the exact op order the driver-side numpy accumulation performs, so
    every iterate is bit-equal with NO intermediate rounding.  Row-major
    indexing: element e (1-based) is (i, j) = ((e-1)//64 + 1,
    (e-1)%64 + 1).  Emits ``rfin (i, j, v)``."""
    dec = "DECIMAL(38,12)"
    colsum = dec_out_sql(f"SUM(CAST(abs(v) AS {dec}))")
    signs = ", ".join(str(s) for s in _HD_SIGNS)
    # R_hd[i][j] literal entry for the damping prior
    rhd = (
        f"(CASE WHEN ({_hd_parity('//')} + ([{signs}])[j]) % 2 = 0 "
        "THEN 0.125 ELSE -0.125 END)"
    )

    def fold(terms: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, 65), k -> {terms})), "
            "(acc, z) -> acc + z)"
        )

    parts = [
        "nsscl AS (SELECT ROUND(sqrt("
        f"(SELECT MAX(s) FROM (SELECT j, {colsum} AS s FROM m0 GROUP BY j))"
        " * (SELECT MAX(s) FROM "
        f"(SELECT i, {colsum} AS s FROM m0 GROUP BY i))), 12) AS s)",
        "u0 AS MATERIALIZED (SELECT list("
        f"(v + (SELECT {_OPQ_DAMP} * s FROM nsscl) * {rhd})"
        " / (SELECT 1.01 * s FROM nsscl) ORDER BY i, j) AS u FROM m0)",
    ]
    for t in range(iters):
        parts.append(
            f"nsa{t} AS MATERIALIZED (SELECT list_transform(range(1, 4097), "
            "e -> "
            + fold(
                "u[(k-1)*64 + ((e-1)//64 + 1)] * u[(k-1)*64 + ((e-1)%64 + 1)]"
            )
            + f") AS a FROM u{t})"
        )
        parts.append(
            f"u{t + 1} AS MATERIALIZED (SELECT list_transform("
            "range(1, 4097), e -> 0.5 * "
            + fold(
                "uu.u[((e-1)//64)*64 + k] * (CASE WHEN (k-1) = "
                "((e-1)%64) THEN 3 - bb.a[(k-1)*64 + ((e-1)%64 + 1)] "
                "ELSE -bb.a[(k-1)*64 + ((e-1)%64 + 1)] END)"
            )
            + f") AS u FROM u{t} uu, nsa{t} bb)"
        )
    parts.append(
        f"rfin AS (SELECT (g.e - 1) // 64 + 1 AS i, (g.e - 1) % 64 + 1 AS j,"
        f" u[g.e] AS v FROM u{iters}, unnest(range(1, 4097)) AS g(e))"
    )
    return ",\n    ".join(parts)


def _opq_leg_sql(method: str, mse_cte: str) -> str:
    return f"""
    SELECT '{method}' AS method,
           (SELECT COUNT(*) FROM {method} JOIN bf USING (query_id, cand_id))
             AS hits,
           (SELECT COUNT(*) FROM bf) AS total,
           ROUND(CAST((SELECT COUNT(*) FROM {method}
                       JOIN bf USING (query_id, cand_id)) AS DOUBLE)
                 / (SELECT COUNT(*) FROM bf), 6) AS recall,
           (SELECT mse FROM {mse_cte}) AS mse"""


def _opq_mse_sql(name: str, sfx: str, subvecs: str) -> str:
    """Per-leg reconstruction MSE from the trained codebook (the encoded
    CTE drops d, so the argmin distance is recomputed via the same
    _PQ_SUBDIST both engines share)."""
    d = _PQ_SUBDIST.format(a="sv.sub", b="cb.cw", d=_PQ_D)
    return f"""
    {name} AS (
      SELECT ROUND({dec_out_sql(
          f"SUM(CAST(ROUND({d}, 6) AS DECIMAL(38,12)))")}
                 / (COUNT(*) / {_PQ_M}), 6) AS mse
      FROM encoded{sfx} e
      JOIN codebook{sfx} cb ON e.subspace = cb.subspace AND e.code = cb.code
      JOIN {subvecs} sv ON sv.vec_id = e.vec_id AND sv.subspace = e.subspace
    )"""


_OPQ_SQL = f"""
    WITH {_BF10_SQL},
    emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    {_hd_rotate_duck_ctes('emb', 'rotv')},
    subvecs_rot AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM rotv e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(16, '_hd16', train=True, emb='rotv',
                  subvecs='subvecs_rot')},
    pq_hd AS (SELECT query_id, cand_id FROM pq_ranked_hd16 WHERE rank <= 10),
    xr AS MATERIALIZED (
      SELECT vec_id, g.i AS j, v[g.i] AS x
      FROM emb, unnest(range(1, 65)) AS g(i)
    ),
    sx AS (
      SELECT e.subspace, e.code, xr.j,
             {dec_out_sql(
                 "SUM(CAST(ROUND(xr.x, 12) AS DECIMAL(38,12)))")} AS sx
      FROM encoded_hd16 e JOIN xr ON xr.vec_id = e.vec_id
      GROUP BY e.subspace, e.code, xr.j
    ),
    cwx AS (
      SELECT cb.subspace, cb.code,
             CAST(cb.subspace * {_PQ_D} + g.i AS INT) AS i, cb.cw[g.i] AS cx
      FROM codebook_hd16 cb, unnest(range(1, {_PQ_D} + 1)) AS g(i)
    ),
    m0 AS MATERIALIZED (
      SELECT cwx.i, sx.j,
             ROUND({dec_out_sql(
                 "SUM(CAST(ROUND(cwx.cx * sx.sx, 12) AS DECIMAL(38,12)))")},
                   12) AS v
      FROM cwx JOIN sx ON cwx.subspace = sx.subspace AND cwx.code = sx.code
      GROUP BY cwx.i, sx.j
    ),
    {_opq_ns_sql()},
    rarr AS (SELECT (SELECT list(v ORDER BY i, j) FROM rfin) AS rr),
    opqv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(range(1, 65), i2 ->
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(1, 65), j2 ->
                   rr[(i2 - 1) * 64 + j2] * v[j2])),
                 (acc, q) -> acc + q)) AS v
      FROM emb, rarr
    ),
    subvecs_opq AS (
      SELECT e.vec_id, s.s AS subspace,
             e.v[(s.s * {_PQ_D} + 1):((s.s + 1) * {_PQ_D})] AS sub
      FROM opqv e, (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    {_pq_sql_ctes(16, '_opq16', train=True, emb='opqv',
                  subvecs='subvecs_opq')},
    pq_opq AS (
      SELECT query_id, cand_id FROM pq_ranked_opq16 WHERE rank <= 10
    ),{_opq_mse_sql('mse_hd', '_hd16', 'subvecs_rot')},
    {_opq_mse_sql('mse_opq', '_opq16', 'subvecs_opq')}
    {_opq_leg_sql('pq_hd', 'mse_hd')}
    UNION ALL
    {_opq_leg_sql('pq_opq', 'mse_opq')}
    ORDER BY method
    """


@register(
    "ann_opq_trained_recall",
    _OPQ_SQL,
    doc="TRAINED OPQ rotation (Ge et al. 2013 §3, non-parametric "
    "alternating argmin) vs the structured-Hadamard baseline "
    "ann_pq_rotated_recall already measured recall-neutral: one "
    "alternation round starting FROM the HD rotation — (1) train the "
    "m=4,k=16 PQ on HD-rotated data (the baseline leg, shared chain), "
    "(2) R-update: the orthogonal-Procrustes argmin_R ||R X - Xhat|| is "
    "the polar factor of M = Xhat X' (reconstructions x raw vectors), "
    "computed RELATIONALLY via Newton-Schulz iteration (U0 = M/"
    "sqrt(||M||_1 ||M||_inf), U <- U(3I - U'U)/2 — pure 64x64 matmuls, "
    "no SVD black box; orthogonality of the result is pytested), "
    "(3) re-train PQ on R*-rotated data and report recall@10 AND the "
    "actual OPQ objective (mean squared reconstruction error) for both "
    "legs against the same pinned truth.  Cross-engine exactness: every "
    "matmul product rounds 12 dp into DECIMAL(38,12) sums (the zipf "
    "moment discipline), so the 14 polar iterates — and hence R, the "
    "rotated coordinates, and both trained codebooks — are bit-equal "
    "between Spark and the DuckDB oracle.  Scale: M and the rotation "
    "apply are Gram-matrix-shaped passes (N x 4096 products, map-side "
    "combined into 4096 / N x 64 groups); the polar iteration is 64x64 "
    "— driver-free, constant size; everything else is the shared PQ "
    "dataflow.  100 TB cost = two corpus passes more than plain PQ.",
)
def ann_opq_trained_recall(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    qs = emb.filter(F.col("vec_id") < 5)
    bf = (
        S.brute_force_topk(emb, qs, k=10)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=True)
    )
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).localCheckpoint(eager=True)
    rot_hd = base.select(
        "vec_id", F.expr(_hd_rotate_spark()).alias("v")
    ).localCheckpoint(eager=True)

    # HD leg: ONE family-cached trained build (key shared with
    # ann_pq_rotated_recall's rotated leg — r13 verdict item 2) feeds
    # the ADC ranking, the MSE and the OPQ reconstruction matrix; the
    # parquet-backed artifacts are already materialized, so the old
    # three-consumer localCheckpoint pins are redundant
    parts_hd = _pq_trained_cached(spark, rot_hd, f"pqt16_hd:{sf_dir}")
    enc_hd = parts_hd[2]
    pairs_hd = _pq_adc_topk(None, k=10, k_codes=16, parts=parts_hd)

    # OPQ leg: the trained rotation persists WITH the trained-PQ stage
    # so a hit skips the _opq_m0 corpus pass and the full-corpus
    # rotation-apply checkpoint (only the 5 probe rows ever evaluate
    # the rotation fold on the hit path)
    import os as _os

    from newyork_taxi_etl_spark.stagecache import cached_dir

    def build_opq(target: str) -> None:
        import numpy as np

        r = _opq_rotation(base, parts_hd)
        from newyork_taxi_etl_spark.localrel import local_rows_df

        local_rows_df(
            spark,
            [
                (int(i), int(j), float(r[i, j]))
                for i in range(64)
                for j in range(64)
            ],
            "i int, j int, v double",
        ).coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(target, "rmat")
        )
        opqv = _apply_rotation(base, r).localCheckpoint(eager=True)
        _, cb, enc, _ = _pq_parts_v(opqv, 16, train=True)
        cb.write.mode("overwrite").parquet(_os.path.join(target, "codebook"))
        enc.select("vec_id", "subspace", "code", "d").write.mode(
            "overwrite"
        ).parquet(_os.path.join(target, "encoded"))

    sdir = cached_dir(f"pqt16_opq:{sf_dir}", build_opq)
    import numpy as np

    r = np.zeros((64, 64))
    for row in spark.read.parquet(_os.path.join(sdir, "rmat")).collect():
        r[row["i"], row["j"]] = row["v"]
    opqv = _apply_rotation(base, r)
    sub_oq, _, _, d_oq = _pq_parts_v(opqv, 16, train=False)
    cb_oq = spark.read.parquet(_os.path.join(sdir, "codebook"))
    enc_oq = spark.read.parquet(_os.path.join(sdir, "encoded"))
    pairs_opq = _pq_adc_topk(
        None, k=10, k_codes=16, parts=(sub_oq, cb_oq, enc_oq, d_oq)
    )

    def leg(pairs, enc, method):
        return (
            _recall_row(pairs.select("query_id", "cand_id"), bf, method)
            .crossJoin(_mse_of(enc))
        )

    return (
        leg(pairs_hd, enc_hd, "pq_hd")
        .unionAll(leg(pairs_opq, enc_oq, "pq_opq"))
        .orderBy("method")
    )


@register(
    "ann_ivf_balance",
    f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             v AS vec
      FROM (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 8)
    ),
    a1 AS (
      SELECT e.vec_id, e.v,
             (SELECT c.cid FROM c0 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    c1 AS (
      SELECT cid, list(m ORDER BY i) AS vec
      FROM (SELECT cid, r.i AS i,
                   CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                          AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE) AS m
            FROM a1, unnest(range(1, len(v)+1)) AS r(i)
            GROUP BY cid, r.i)
      GROUP BY cid
    ),
    assigned AS (
      SELECT e.vec_id,
             (SELECT c.cid FROM c1 c
              ORDER BY {_IVF_KM_DIST.format(a='e.v', b='c.vec')}, c.cid
              LIMIT 1) AS cid
      FROM emb e
    ),
    lists AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_i FROM assigned GROUP BY cid
    ),
    tot AS (SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM lists),
    terms AS (
      SELECT l.n_i, tot.n,
             ROUND((l.n_i / CAST(tot.n AS DOUBLE))
                   * ln(l.n_i / CAST(tot.n AS DOUBLE)), 12) AS t
      FROM lists l, tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lists,
           MAX(n) AS n_vecs,
           CAST(MIN(n_i) AS BIGINT) AS min_list,
           CAST(MAX(n_i) AS BIGINT) AS max_list,
           ROUND(MAX(n_i) / (MAX(n) / CAST(COUNT(*) AS DOUBLE)), 4)
             AS skew,
           ROUND(-CAST(CAST(SUM(CAST(CAST(t AS VARCHAR) AS DECIMAL(38,12)))
                 AS VARCHAR) AS DOUBLE) / ln(COUNT(*)), 6) AS entropy_norm
    FROM terms
    """,
    doc="IVF INDEX BALANCE diagnostics — the health dashboard an index "
    "operator watches: after the shared kmeans build (8 lists, 1 exact-"
    "mean Lloyd round — the ann_ivf_kmeans_topk centroids), report list "
    "count, corpus size, min/max list sizes, SKEW (max list over the "
    "uniform mean — probe latency is bounded by the hottest list, so "
    "this is the p99 driver), and normalized assignment entropy "
    "(H / ln k; 1.0 = perfectly balanced).  A skewed index wastes "
    "n_probe budget exactly like a skewed shuffle wastes executors — "
    "same pathology, measured the same way (cf. skew_diagnostics for "
    "joins).  Entropy terms round at 12 and decimal-sum (a cross-list "
    "float sum's order is engine-dependent).  Scale: the zero-shuffle "
    "broadcast-argmin assignment + one k-row aggregate",
)
def ann_ivf_balance(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
    )
    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    cent = _ivf_centroids_cached(spark, emb, sf_dir)
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    lists = (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_i"))
    )
    tot = lists.agg(F.sum("n_i").cast("bigint").alias("n"))
    p = F.col("n_i") / F.col("n").cast("double")
    terms = lists.crossJoin(F.broadcast(tot)).select(
        "n_i", "n", F.round(p * F.log(p), 12).alias("t")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        F.max("n").alias("n_vecs"),
        F.min("n_i").cast("bigint").alias("min_list"),
        F.max("n_i").cast("bigint").alias("max_list"),
        F.round(
            F.max("n_i") / (F.max("n") / F.count(F.lit(1)).cast("double")),
            4,
        ).alias("skew"),
        F.round(
            -F.sum(F.col("t").cast("decimal(38,12)")).cast("double")
            / F.log(F.count(F.lit(1)).cast("double")),
            6,
        ).alias("entropy_norm"),
    )


_LABEL_MARGIN_SQL = """
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label, CAST(r.i - 1 AS INT) AS dim,
             ROUND(CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE), 12) AS m
      FROM e, unnest(range(1, len(v) + 1)) AS r(i)
      GROUP BY label, dim
    ),
    d2 AS (
      SELECT e.vec_id, e.label,
             CAST(CAST(SUM(CAST(ROUND((e.v[c.dim + 1] - c.m)
                                       * (e.v[c.dim + 1] - c.m), 12)
                               AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
               AS dd
      FROM e JOIN cent c ON c.label = e.label
      GROUP BY e.vec_id, e.label
    ),
    within AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             ROUND(CAST(CAST(SUM(CAST(CAST(ROUND(sqrt(dd), 12) AS VARCHAR)
                        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*), 6) AS within_mean
      FROM d2 GROUP BY label
    ),
    cpair AS (
      SELECT a.label AS la, b.label AS lb,
             ROUND(sqrt(CAST(CAST(SUM(CAST(ROUND((a.m - b.m) * (a.m - b.m),
                                               12) AS DECIMAL(38,12)))
                        AS VARCHAR) AS DOUBLE)), 12) AS cdist
      FROM cent a JOIN cent b
        ON a.dim = b.dim AND a.label <> b.label
      GROUP BY a.label, b.label
    ),
    near AS (
      SELECT la AS label, MIN(cdist) AS bmin FROM cpair GROUP BY la
    ),
    nearlab AS (
      SELECT n.label, n.bmin,
             MIN(p.lb) AS nearest_label
      FROM near n JOIN cpair p ON p.la = n.label AND p.cdist = n.bmin
      GROUP BY n.label, n.bmin
    )
    SELECT w.label, w.n_vecs, w.within_mean,
           ROUND(nl.bmin, 6) AS between_min,
           nl.nearest_label,
           ROUND(nl.bmin / NULLIF(w.within_mean, 0), 6) AS margin
    FROM within w JOIN nearlab nl USING (label)
    ORDER BY w.label
    """


@register(
    "embedding_label_margin",
    _LABEL_MARGIN_SQL,
    doc="LABEL SEPARABILITY MARGIN in embedding space — the Fisher-style "
    "audit behind Davies-Bouldin (1979): per label, the mean L2 "
    "distance of members to their own centroid (WITHIN spread) vs the "
    "L2 distance to the NEAREST other centroid (BETWEEN), margin = "
    "between/within.  Margin < 1 means the nearest class prototype "
    "sits inside the class's own scatter — the label set is not "
    "linearly separable and centroid classifiers / hard-negative "
    "mining over it will be noisy.  Scale: centroids are a labels x "
    "dims partial-aggregated mean (one corpus pass); member distances "
    "join each vector to ITS OWN broadcast centroid row (zero "
    "cross-vector pairs); the centroid pair table is labels^2 — "
    "nothing quadratic in corpus size.  Engine-exactness: 12-dp "
    "rounded decimal sums at every reduction, nearest-label ties "
    "break by MIN(label) on both engines.",
)
def embedding_label_margin(spark, sf_dir):
    dec = "decimal(38,12)"
    emb = spark.read.parquet(table_path(sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    ex = emb.select(
        "vec_id", "label", F.posexplode("v").alias("dim", "x")
    )
    cnt = F.count(F.lit(1))
    cent = ex.groupBy("label", "dim").agg(
        F.round(
            (F.sum(F.col("x").cast(dec)).cast("double") / cnt).cast(
                "double"
            ),
            12,
        ).alias("m")
    )
    d2 = (
        ex.join(
            F.broadcast(
                cent.select(
                    F.col("label").alias("cl"), F.col("dim").alias("cd"), "m"
                )
            ),
            (F.col("cl") == F.col("label")) & (F.col("cd") == F.col("dim")),
        )
        .select(
            "vec_id",
            "label",
            F.round((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")), 12)
            .cast(dec)
            .alias("term"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("term").cast("double").alias("dd"))
    )
    within = d2.groupBy("label").agg(
        cnt.cast("bigint").alias("n_vecs"),
        F.round(
            F.sum(F.round(F.sqrt("dd"), 12).cast(dec)).cast("double") / cnt,
            6,
        ).alias("within_mean"),
    )
    a = cent.select(
        F.col("label").alias("la"), F.col("dim").alias("da"), F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("lb"), F.col("dim").alias("db"), F.col("m").alias("mb")
    )
    cpair = (
        a.join(
            F.broadcast(b),
            (F.col("da") == F.col("db")) & (F.col("la") != F.col("lb")),
        )
        .select(
            "la",
            "lb",
            F.round(
                (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 12
            )
            .cast(dec)
            .alias("term"),
        )
        .groupBy("la", "lb")
        .agg(F.round(F.sqrt(F.sum("term").cast("double")), 12).alias("cdist"))
    )
    near = cpair.groupBy("la").agg(F.min("cdist").alias("bmin"))
    nearlab = (
        near.join(
            cpair.select(F.col("la").alias("pa"), "lb", "cdist"),
            (F.col("pa") == F.col("la")) & (F.col("cdist") == F.col("bmin")),
        )
        .groupBy("la", "bmin")
        .agg(F.min("lb").alias("nearest_label"))
    )
    return (
        within.join(nearlab, F.col("la") == F.col("label"))
        .select(
            "label",
            "n_vecs",
            "within_mean",
            F.round(F.col("bmin"), 6).alias("between_min"),
            "nearest_label",
            F.round(
                F.col("bmin") / F.nullif(F.col("within_mean"), F.lit(0.0)), 6
            ).alias("margin"),
        )
        .orderBy("label")
    )


_ISOTROPY_SQL = """
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, label,
             ROUND(list_reduce(list_transform(v, x -> x * x),
                               (a, b) -> a + b), 12) AS nrm2
      FROM e
    ),
    pern AS (
      SELECT label,
             CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(CAST(SUM(CAST(CAST(ROUND(sqrt(nrm2), 12) AS VARCHAR)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS s_norm,
             CAST(CAST(SUM(CAST(CAST(ROUND(nrm2, 12) AS VARCHAR)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS s_sq
      FROM norms GROUP BY label
    ),
    cent AS (
      SELECT label, CAST(r.i - 1 AS INT) AS dim,
             ROUND(CAST(CAST(CAST(SUM(CAST(CAST(v[r.i] AS VARCHAR)
                        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                        / COUNT(*) AS DOUBLE), 12) AS m
      FROM e, unnest(range(1, len(v) + 1)) AS r(i)
      GROUP BY label, dim
    ),
    cn AS (
      SELECT label,
             CAST(CAST(SUM(CAST(ROUND(m * m, 12) AS DECIMAL(38,12)))
                  AS VARCHAR) AS DOUBLE) AS cnorm2
      FROM cent GROUP BY label
    )
    SELECT p.label, p.n_vecs,
           ROUND(p.s_norm / p.n_vecs, 6) AS mean_norm,
           ROUND(sqrt(GREATEST(ROUND((p.s_sq - p.s_norm * p.s_norm
                                              / p.n_vecs)
                                      / NULLIF(p.n_vecs - 1, 0), 9), 0))
                 / NULLIF(p.s_norm / p.n_vecs, 0), 6) AS norm_cv,
           ROUND(sqrt(c.cnorm2), 6) AS centroid_norm,
           ROUND(c.cnorm2 / NULLIF(p.s_sq / p.n_vecs, 0), 6) AS isotropy
    FROM pern p JOIN cn c USING (label)
    ORDER BY p.label
    """


@register(
    "embedding_isotropy_audit",
    _ISOTROPY_SQL,
    doc="EMBEDDING GEOMETRY AUDIT per label — the checks that decide "
    "whether cosine ANN / centroid classifiers can be trusted on this "
    "space: mean vector norm and its coefficient of variation (norm "
    "spread breaks dot-product shortcuts), centroid norm, and the "
    "ANISOTROPY ratio ||centroid||^2 / E[||v||^2] — equal to the "
    "expected pairwise cosine for unit vectors (Ethayarajh 2019 "
    "measured ~0.9 for GPT-2: a collapsed cone where cosine stops "
    "discriminating; near 0 = isotropic).  Scale: per-vector norms "
    "are a scan-side left fold (bit-identical to DuckDB list_reduce "
    "— same add order from the same arrays); the only shuffles are "
    "the labels- and labels x dims-sized aggregates.  Norm sigma via "
    "the sum/sumsq identity on 12-dp decimal sums; every variance "
    "guard NULLIFs (n=1 label, zero-norm degenerate).",
)
def embedding_isotropy_audit(spark, sf_dir):
    dec = "decimal(38,12)"
    emb = spark.read.parquet(table_path(sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    norms = emb.select(
        "label",
        F.round(
            F.expr(
                "aggregate(slice(transform(v, x -> x * x), 2, size(v) - 1), "
                "transform(v, x -> x * x)[0], (a, b) -> a + b)"
            ),
            12,
        ).alias("nrm2"),
    )
    pern = norms.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum(F.round(F.sqrt("nrm2"), 12).cast(dec)).cast("double").alias(
            "s_norm"
        ),
        F.sum(F.round(F.col("nrm2"), 12).cast(dec)).cast("double").alias(
            "s_sq"
        ),
    )
    ex = emb.select("label", F.posexplode("v").alias("dim", "x"))
    cnt = F.count(F.lit(1))
    cent = ex.groupBy("label", "dim").agg(
        F.round(
            (F.sum(F.col("x").cast(dec)).cast("double") / cnt).cast("double"),
            12,
        ).alias("m")
    )
    cn = cent.groupBy("label").agg(
        F.sum(F.round(F.col("m") * F.col("m"), 12).cast(dec))
        .cast("double")
        .alias("cnorm2")
    )
    mean_norm = F.col("s_norm") / F.col("n_vecs")
    # variance quantized at 9 dp and clamped: with unit-normalized
    # vectors the true spread is ~1e-12 — pure catastrophic-cancellation
    # residue of the 12-dp decimal sums, which DIFFERS between engines.
    # Quantizing sends noise to exactly 0 on both; real spread down to
    # sigma ~3e-5 survives.
    var = F.greatest(
        F.round(
            (
                F.col("s_sq")
                - F.col("s_norm") * F.col("s_norm") / F.col("n_vecs")
            )
            / F.nullif((F.col("n_vecs") - 1).cast("double"), F.lit(0.0)),
            9,
        ),
        F.lit(0.0),
    )
    return (
        pern.join(cn, "label")
        .select(
            "label",
            "n_vecs",
            F.round(mean_norm, 6).alias("mean_norm"),
            F.round(F.sqrt(var) / F.nullif(mean_norm, F.lit(0.0)), 6).alias(
                "norm_cv"
            ),
            F.round(F.sqrt("cnorm2"), 6).alias("centroid_norm"),
            F.round(
                F.col("cnorm2")
                / F.nullif(F.col("s_sq") / F.col("n_vecs"), F.lit(0.0)),
                6,
            ).alias("isotropy"),
        )
        .orderBy("label")
    )


_SWEEP_CONFIGS = ((2, 4), (6, 4), (12, 4), (12, 6))

_SWEEP_COS = (
    "ROUND(list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v))"
    " * sqrt(list_dot_product(b.v, b.v))), 4)"
)


def _lsh_sweep_sql() -> str:
    from newyork_taxi_etl_spark.operators.similarity import lsh_multiband_dims

    legs = []
    ctes = []
    for nb, bits in _SWEEP_CONFIGS:
        bands = lsh_multiband_dims(dim=64, n_bands=nb, bits=bits)
        band_sel = "\n      UNION ALL\n      ".join(
            f"SELECT vec_id, {i} AS band_idx, "
            f"{band_bucket_sql('v', dims)} AS bucket FROM s"
            for i, dims in enumerate(bands)
        )
        tag = f"{nb}_{bits}"
        ctes.append(
            f"""k_{tag} AS (
      {band_sel}
    ),
    cand_{tag} AS (
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM k_{tag} a JOIN k_{tag} b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ),
    m_{tag} AS (
      SELECT CAST({nb} AS BIGINT) AS n_bands, CAST({bits} AS BIGINT) AS bits,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN {_SWEEP_COS} >= 0.4 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM cand_{tag}
      JOIN s a ON a.vec_id = cand_{tag}.ia
      JOIN s b ON b.vec_id = cand_{tag}.ib
    )"""
        )
        legs.append(f"SELECT * FROM m_{tag}")
    union = "\n      UNION ALL\n      ".join(legs)
    joined = ",\n    ".join(ctes)
    return f"""
    WITH s AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 512
    ),
    truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_truth
      FROM s a JOIN s b ON a.vec_id < b.vec_id
      WHERE {_SWEEP_COS} >= 0.4
    ),
    {joined},
    m AS (
      {union}
    )
    SELECT m.n_bands, m.bits, m.n_candidates, m.n_hits, truth.n_truth,
           ROUND(CAST(m.n_hits AS DOUBLE) / NULLIF(truth.n_truth, 0), 6)
             AS recall,
           ROUND(CAST(m.n_hits AS DOUBLE) / NULLIF(m.n_candidates, 0), 6)
             AS precision
    FROM m CROSS JOIN truth
    ORDER BY m.n_bands, m.bits
    """


@register(
    "lsh_band_sweep",
    _lsh_sweep_sql(),
    doc="SIGN-LSH OPERATING-POINT SWEEP — the tuning table behind the "
    "deployed 12x4 choice (the ann_recall_sq_sweep shape, applied to "
    "the OR-construction): for (bands, bits) in (2,4)(6,4)(12,4)(12,6), "
    "candidate-pair count, true-positive hits, RECALL against the "
    "exact-cosine truth set (>= 0.4 pairs on the fixed 512-doc md5 "
    "sample — the dedup_embedding_cosine discipline, so the quadratic "
    "term is a CONSTANT at any corpus size), and bucket PRECISION.  "
    "More bands buy recall (OR-construction), more bits buy precision "
    "(AND within band) — the table shows both axes measured.  Scale: "
    "the sweep runs on the capped sample; corpus-scale candidates use "
    "the same band construction in dedup_embedding_lsh's bucket join.",
)
def lsh_band_sweep(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import (
        _DOT_D,
        lsh_band_structs,
        lsh_multiband_dims,
        spread_small_scan,
    )

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    # spread the 512-row sample BEFORE checkpointing (r16, guide §2.5 /
    # the spread_small_scan discipline): limit(512) materializes as ONE
    # partition, so the truth pass's broadcast-NLJ cosine scan (131k
    # interpreted-HOF pairs) and every band projection inherited a
    # single-task stage while 31 cores idled.  The per-vector norm is
    # precomputed once (sqrt of the same self-dot the oracle's
    # denominator takes, so na * nb is bit-identical to sqrt(da) *
    # sqrt(db) per pair — the semantic_dedup_kmeans discipline): the
    # per-pair work drops from 3 interpreted 64-dim dots to 1.
    s = spread_small_scan(
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(512)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
        .withColumn(
            "nrm", F.sqrt(F.expr(_DOT_D.format(a="v", b="v")))
        )
    ).localCheckpoint()
    a, b = s.alias("a"), s.alias("b")
    cos = F.round(
        F.expr(_DOT_D.format(a="a.v", b="b.v"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        4,
    )
    truth = (
        a.join(F.broadcast(b), F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= 0.4)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    )
    # candidate sets overlap heavily across configs, so each DISTINCT
    # pair is scored ONCE and the per-config ledgers join the shared
    # scores back (r13).  r16: the four per-config bucket-join pyramids
    # (4x explode + join + distinct = ~12 tiny sequential stages, pure
    # scheduling overhead at this size) collapse into ONE tagged plan —
    # union the config-tagged band tables first, join once on
    # (config, band_idx, bucket), distinct once on (config, pair); the
    # surviving (n_bands, bits, ia, ib) rows are identical.
    k_all = None
    for nb, bits in _SWEEP_CONFIGS:
        bands = lsh_multiband_dims(dim=64, n_bands=nb, bits=bits)
        k = s.select(
            F.lit(nb).cast("bigint").alias("n_bands"),
            F.lit(bits).cast("bigint").alias("bits"),
            "vec_id",
            F.explode(lsh_band_structs("v", bands)).alias("bb"),
        ).select(
            "n_bands",
            "bits",
            "vec_id",
            F.col("bb.band_idx").alias("band_idx"),
            F.col("bb.bucket").alias("bucket"),
        )
        k_all = k if k_all is None else k_all.unionByName(k)
    ka = k_all.select(
        "n_bands", "bits", F.col("vec_id").alias("ia"), "band_idx", "bucket"
    )
    kb = k_all.select(
        F.col("n_bands").alias("n_bands_b"),
        F.col("bits").alias("bits_b"),
        F.col("vec_id").alias("ib"),
        F.col("band_idx").alias("band_idx_b"),
        F.col("bucket").alias("bucket_b"),
    )
    cand_all = (
        ka.join(
            kb,
            (F.col("n_bands") == F.col("n_bands_b"))
            & (F.col("bits") == F.col("bits_b"))
            & (F.col("band_idx") == F.col("band_idx_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("ia") < F.col("ib")),
        )
        .select("n_bands", "bits", "ia", "ib")
        .distinct()
    )
    # pin: cand_all feeds BOTH the distinct-pair scoring and the
    # per-config ledger join — unpinned, the bucket-join pyramid would
    # run twice
    cand_all = cand_all.localCheckpoint(eager=False)
    shared = (
        cand_all.select("ia", "ib")
        .distinct()
        .join(a, F.col("a.vec_id") == F.col("ia"))
        .join(F.broadcast(b), F.col("b.vec_id") == F.col("ib"))
        .select("ia", "ib", cos.alias("cosine"))
    )
    m = (
        cand_all.join(shared, ["ia", "ib"])
        .groupBy("n_bands", "bits")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.when(F.col("cosine") >= 0.4, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    return (
        m.crossJoin(F.broadcast(truth))
        .select(
            "n_bands",
            "bits",
            "n_candidates",
            "n_hits",
            "n_truth",
            F.round(
                F.col("n_hits").cast("double")
                / F.nullif(F.col("n_truth"), F.lit(0)).cast("double"),
                6,
            ).alias("recall"),
            F.round(
                F.col("n_hits").cast("double")
                / F.nullif(F.col("n_candidates"), F.lit(0)).cast("double"),
                6,
            ).alias("precision"),
        )
        .orderBy("n_bands", "bits")
    )


# --- ZCA whitening audit (coupled Newton-Schulz inverse square root) -------

#: coupled-NS iterations for C^{-1/2}; the 1% relative ridge floors the
#: scaled spectrum at ~1.6e-4 so 26 iterations converge (measured; the
#: whitened-covariance pytest gates max |W Cr W' - I| <= 1e-6)
_ZCA_NS_ITERS = 26
_ZCA_RIDGE = 0.01


def _zca_cov(base):
    """Covariance of the vec_id %% 5 == 0 estimation sample as a 12-dp
    (i, j, v) table: C_ij = ROUND(S_ij/n - mu_i mu_j, 12) with S the
    12-dp-product decimal cross-moment sums and mu the 12-dp decimal
    means — order-independent, bit-equal to the oracle's CTEs.  The
    sample IS the production shape: at 100 TB a covariance is always
    estimated from a hash sample, never the full corpus."""
    dec = "decimal(38,12)"
    samp = base.filter(F.col("vec_id") % 5 == 0)
    xr = samp.select(
        "vec_id", F.posexplode("v").alias("p", "x")
    ).select("vec_id", (F.col("p") + 1).alias("i"), "x")
    n = samp.agg(F.count(F.lit(1)).alias("n"))
    mu = xr.groupBy("i").agg(
        F.round(
            F.sum(F.round(F.col("x"), 12).cast(dec)).cast("double")
            / F.count(F.lit(1)),
            12,
        ).alias("mu")
    )
    s = (
        xr.alias("a")
        .join(xr.alias("b"), F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(
            F.sum(
                F.round(F.col("a.x") * F.col("b.x"), 12).cast(dec)
            ).alias("sxy")
        )
    )
    mu_i = mu.select(F.col("i"), F.col("mu").alias("mu_i"))
    mu_j = mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    return (
        s.join(F.broadcast(mu_i), "i")
        .join(F.broadcast(mu_j), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(
                F.col("sxy").cast("double") / F.col("n")
                - F.col("mu_i") * F.col("mu_j"),
                12,
            ).alias("v"),
        )
    )


def _zca_invsqrt_np(c):
    """Driver-side coupled Newton-Schulz (Higham's stable Y/Z pair):
    Y0 = Cr/s, Z0 = I; T = 0.5(3I - Z Y); Y <- Y T; Z <- T Z, so
    Z -> (Cr/s)^{-1/2} and W = Z/sqrt(s), with Cr = C + eps I
    (eps = _ZCA_RIDGE x trace/64 — shrinkage for the near-null
    directions of unit-normalized embeddings) and s = trace(Cr)
    (lambda_max <= trace for SPD).  Exact IEEE op-order replica of the
    oracle's CTE chain (the _ns_polar_np discipline: ascending-k
    rank-1 accumulation == the SQL list_reduce fold; elementwise single
    ops).  Returns (W, Cw) with Cw = ROUND12(W C W') — the whitened
    covariance, computed analytically from the one estimated C (no
    second data pass)."""
    import numpy as np

    diag = np.eye(64, dtype=bool)
    # trace via exact 1e-12-unit integer sum (matches the decimal sum)
    tr = float(np.rint(np.diag(c) * 1e12).sum()) / 1e12
    eps = tr / 64 * _ZCA_RIDGE
    cr = np.where(diag, c + eps, c)
    s = tr + eps * 64
    y = cr / s
    z = np.where(diag, 1.0, 0.0)
    for _ in range(_ZCA_NS_ITERS):
        a = np.zeros((64, 64))
        for k in range(64):
            a += np.outer(z[:, k], y[k, :])
        t = 0.5 * np.where(diag, 3.0 - a, -a)
        yn = np.zeros((64, 64))
        zn = np.zeros((64, 64))
        for k in range(64):
            yn += np.outer(y[:, k], t[k, :])
            zn += np.outer(t[:, k], z[k, :])
        y, z = yn, zn
    w = z / np.sqrt(s)
    a2 = np.zeros((64, 64))
    for k in range(64):
        a2 += np.outer(w[:, k], c[k, :])
    cw = np.zeros((64, 64))
    for k in range(64):
        cw += np.outer(a2[:, k], w[:, k])
    cwr = np.vectorize(_round12)(cw)
    return w, cwr


def _zca_stats_py(mat, stage):
    """(stage, trace, var_max, var_min, var_ratio, mean_abs_offdiag) from
    a 12-dp 64x64 matrix — exact-integer-unit sums so the row equals the
    oracle's aggregate bit-for-bit."""
    import numpy as np

    units = np.rint(mat * 1e12)
    d = np.diag(mat)
    trace = _round6(float(np.diag(units).sum()) / 1e12)
    offsum = float(np.abs(units[~np.eye(64, dtype=bool)]).sum()) / 1e12
    return (
        stage,
        trace,
        _round6(float(d.max())),
        _round6(float(d.min())),
        _round6(float(d.max() / d.min())),
        _round6(offsum / 4032),
    )


def _round6(x: float) -> float:
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("1E-6"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _zca_ns_sql(iters: int = _ZCA_NS_ITERS) -> str:
    """DuckDB twin of :func:`_zca_invsqrt_np`: ridge, scale, the coupled
    Y/Z iteration and the analytic whitened covariance as single-row
    4096-array fold CTEs (ascending-k list_reduce == the numpy rank-1
    order; row-major index (i-1)*64 + j).  Expects ``craw (i, j, v)``;
    emits ``cwm (i, j, v)`` with 12-dp entries."""
    dec = "DECIMAL(38,12)"

    def fold(terms: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, 65), k -> {terms})), "
            "(acc, q) -> acc + q)"
        )

    diag_e = "((e-1)//64 = (e-1)%64)"
    parts = [
        "ztr AS (SELECT "
        + dec_out_sql(f"SUM(CAST(v AS {dec}))")
        + " AS tr FROM craw WHERE i = j)",
        f"zeps AS (SELECT tr, tr / 64 * {_ZCA_RIDGE} AS eps, "
        f"tr + tr / 64 * {_ZCA_RIDGE} * 64 AS s FROM ztr)",
        "yz0 AS MATERIALIZED (SELECT "
        "(SELECT list((CASE WHEN i = j THEN v + (SELECT eps FROM zeps) "
        "ELSE v END) / (SELECT s FROM zeps) ORDER BY i, j) FROM craw) AS y, "
        f"list_transform(range(1, 4097), e -> CASE WHEN {diag_e} "
        "THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS z)",
    ]
    for t in range(iters):
        parts.append(
            f"za{t} AS MATERIALIZED (SELECT y, z, "
            "list_transform(range(1, 4097), e -> "
            + fold(
                "z[((e-1)//64)*64 + k] * y[(k-1)*64 + ((e-1)%64 + 1)]"
            )
            + f") AS a FROM yz{t})"
        )
        parts.append(
            f"zt{t} AS (SELECT y, z, list_transform(range(1, 4097), e -> "
            f"0.5 * (CASE WHEN {diag_e} THEN 3 - a[e] ELSE -a[e] END)) AS t "
            f"FROM za{t})"
        )
        parts.append(
            f"yz{t + 1} AS MATERIALIZED (SELECT "
            "list_transform(range(1, 4097), e -> "
            + fold("y[((e-1)//64)*64 + k] * t[(k-1)*64 + ((e-1)%64 + 1)]")
            + ") AS y, "
            "list_transform(range(1, 4097), e -> "
            + fold("t[((e-1)//64)*64 + k] * z[(k-1)*64 + ((e-1)%64 + 1)]")
            + f") AS z FROM zt{t})"
        )
    parts.append(
        # DuckDB lambdas cannot contain subqueries: sqrt(s) joins in as
        # a plain column instead
        f"zw AS MATERIALIZED (SELECT list_transform(z, e2 -> "
        f"e2 / zs_sqrt) AS w FROM yz{iters}, "
        "(SELECT sqrt(s) AS zs_sqrt FROM zeps))"
    )
    parts.append(
        "zcarr AS (SELECT (SELECT list(v ORDER BY i, j) FROM craw) AS c)"
    )
    parts.append(
        "zwc AS MATERIALIZED (SELECT w, "
        "list_transform(range(1, 4097), e -> "
        + fold("w[((e-1)//64)*64 + k] * c[(k-1)*64 + ((e-1)%64 + 1)]")
        + ") AS a2 FROM zw, zcarr)"
    )
    parts.append(
        "cwm AS MATERIALIZED (SELECT (g.e - 1) // 64 + 1 AS i, "
        "(g.e - 1) % 64 + 1 AS j, ROUND("
        + fold(
            "a2[((g.e-1)//64)*64 + k] * w[((g.e-1)%64)*64 + k]"
        )
        + ", 12) AS v FROM zwc, unnest(range(1, 4097)) AS g(e))"
    )
    return ",\n    ".join(parts)


_ZCA_SQL = f"""
    WITH emb AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    samp AS (SELECT vec_id, v FROM emb WHERE vec_id % 5 = 0),
    zxr AS MATERIALIZED (
      SELECT vec_id, g.i AS i, v[g.i] AS x
      FROM samp, unnest(range(1, 65)) AS g(i)
    ),
    zn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM samp),
    zmu AS (
      SELECT i, ROUND({dec_out_sql(
          "SUM(CAST(ROUND(x, 12) AS DECIMAL(38,12)))")} / COUNT(*), 12)
               AS mu
      FROM zxr GROUP BY i
    ),
    zsm AS (
      SELECT a.i AS i, b.i AS j,
             SUM(CAST(ROUND(a.x * b.x, 12) AS DECIMAL(38,12))) AS sxy
      FROM zxr a JOIN zxr b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    craw AS MATERIALIZED (
      SELECT zsm.i, zsm.j,
             ROUND({dec_out_sql('zsm.sxy')} / zn.n - mi.mu * mj.mu, 12) AS v
      FROM zsm
      JOIN zmu mi ON mi.i = zsm.i
      JOIN zmu mj ON mj.i = zsm.j
      CROSS JOIN zn
    ),
    {{ns}}
    SELECT 'raw' AS stage,
           ROUND({dec_out_sql(
               "SUM(CASE WHEN i = j THEN CAST(v AS DECIMAL(38,12)) "
               "ELSE CAST(0 AS DECIMAL(38,12)) END)")}, 6) AS trace,
           ROUND(MAX(CASE WHEN i = j THEN v END), 6) AS var_max,
           ROUND(MIN(CASE WHEN i = j THEN v END), 6) AS var_min,
           ROUND(MAX(CASE WHEN i = j THEN v END)
                 / MIN(CASE WHEN i = j THEN v END), 6) AS var_ratio,
           ROUND({dec_out_sql(
               "SUM(CASE WHEN i <> j THEN CAST(abs(v) AS DECIMAL(38,12)) "
               "ELSE CAST(0 AS DECIMAL(38,12)) END)")} / 4032, 6)
             AS mean_abs_offdiag
    FROM craw
    UNION ALL
    SELECT 'whitened',
           ROUND({dec_out_sql(
               "SUM(CASE WHEN i = j THEN CAST(v AS DECIMAL(38,12)) "
               "ELSE CAST(0 AS DECIMAL(38,12)) END)")}, 6),
           ROUND(MAX(CASE WHEN i = j THEN v END), 6),
           ROUND(MIN(CASE WHEN i = j THEN v END), 6),
           ROUND(MAX(CASE WHEN i = j THEN v END)
                 / MIN(CASE WHEN i = j THEN v END), 6),
           ROUND({dec_out_sql(
               "SUM(CASE WHEN i <> j THEN CAST(abs(v) AS DECIMAL(38,12)) "
               "ELSE CAST(0 AS DECIMAL(38,12)) END)")} / 4032, 6)
    FROM cwm
    ORDER BY stage
    """.replace("{{ns}}", "{ns}")


@register(
    "embedding_whitening_audit",
    _ZCA_SQL.format(ns=_zca_ns_sql()),
    doc="ZCA WHITENING AUDIT — the transform retrieval/SemDeDup "
    "pipelines apply when embedding similarity is dominated by a few "
    "high-variance directions (anisotropy; pairs with "
    "embedding_isotropy_audit which only MEASURES it): estimate the "
    "covariance C on the vec_id%5 hash sample (at 100 TB a covariance "
    "is ALWAYS estimated from a sample — the sampled estimate is the "
    "production shape, not a shortcut), compute W = (C + eps I)^(-1/2) "
    "via Higham's coupled Newton-Schulz Y/Z iteration (pure 64x64 "
    "matmuls, no eigen black box; eps = 1%% relative ridge for the "
    "near-null directions of unit-normalized vectors), and report the "
    "covariance-shape statistics BEFORE and AFTER analytically "
    "(whitened covariance = W C W' from the one estimated C — no "
    "second data pass): trace, min/max/ratio of per-dim variance, mean "
    "|off-diagonal|.  Whitening works <=> the whitened ratio ~1 and "
    "off-diagonal mass collapses (pytest also gates "
    "max|W (C+eps I) W' - I| <= 1e-6 and that data-side application "
    "reproduces the analytic diagonal).  Cross-engine exactness: the "
    "covariance is 12-dp decimal moments; the iteration replays on the "
    "driver with the exact IEEE op order of the oracle's fold CTEs "
    "(the ann_opq_trained_recall architecture).  Scale: one N x 4096 "
    "sampled moment pass, map-side combined to 4096 cells; everything "
    "after is constant-size.",
)
def embedding_whitening_audit(spark, sf_dir):
    import numpy as np

    from newyork_taxi_etl_spark.operators.similarity import spread_small_scan

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    rows = _zca_cov(base).collect()
    c = np.zeros((64, 64))
    for r in rows:
        c[r["i"] - 1, r["j"] - 1] = r["v"]
    _, cw = _zca_invsqrt_np(c)
    out = [_zca_stats_py(c, "raw"), _zca_stats_py(cw, "whitened")]
    from newyork_taxi_etl_spark.localrel import local_rows_df

    return local_rows_df(
        spark,
        out,
        "stage string, trace double, var_max double, var_min double, "
        "var_ratio double, mean_abs_offdiag double",
    ).orderBy("stage")


# --- SemDeDup + prototype pruning (cluster-scoped curation) ----------------

_SEMDEDUP_TAU = 0.97


#: SemDeDup's scale contract is CONSTANT cluster size (the paper scales
#: cluster count with the corpus — ~100k clusters for LAION), so the
#: quantizer's k grows once cells would exceed ~750 members: k =
#: GREATEST(8, n // 750).  At every shipped SF this resolves to the
#: shared k=8 build (5000 // 750 = 6), so values are unchanged where
#: verified; the 10x scale check exercises the adaptive branch.
_SEMDEDUP_CELL = 750

_IVF_COARSE_ADAPTIVE = _IVF_COARSE_CTES.replace(
    "LIMIT 8)",
    f"LIMIT (SELECT GREATEST(8, COUNT(*) // {_SEMDEDUP_CELL}) FROM emb))",
    1,
)
# r14 ADVICE: the textual patch must fail loudly if _IVF_COARSE_CTES is
# ever reformatted — a silent no-op would pin the oracle at k=8 while the
# Spark side scales k, diverging exactly at corpora > 8 * _SEMDEDUP_CELL.
assert _IVF_COARSE_ADAPTIVE != _IVF_COARSE_CTES, (
    "_IVF_COARSE_CTES lost its 'LIMIT 8)' seed literal; the adaptive-k "
    "substitution no-oped"
)


@register(
    "semantic_dedup_kmeans",
    f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    {_IVF_COARSE_ADAPTIVE},
    members AS (
      SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM cells GROUP BY cid
    ),
    pairs AS (
      SELECT ca.cid, ca.cand_id AS id_a, cb.cand_id AS id_b,
             {_COS_SQL.format(a='ea.embedding', b='eb.embedding')} AS cosine
      FROM cells ca JOIN cells cb
        ON ca.cid = cb.cid AND ca.cand_id < cb.cand_id
      JOIN emb ea ON ea.vec_id = ca.cand_id
      JOIN emb eb ON eb.vec_id = cb.cand_id
    ),
    dup AS (
      SELECT cid,
             CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
             CAST(COUNT(DISTINCT CASE WHEN cosine >= {_SEMDEDUP_TAU}
                                      THEN id_b END) AS BIGINT) AS n_dropped,
             MAX(cosine) AS max_cosine
      FROM pairs
      GROUP BY cid
    )
    SELECT m.cid AS cid,
           m.n_members,
           COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM pairs p
                     WHERE p.cid = m.cid
                       AND p.cosine >= {_SEMDEDUP_TAU}), 0) AS n_dup_pairs,
           COALESCE(d.n_dropped, 0) AS n_dropped,
           d.max_cosine
    FROM members m LEFT JOIN dup d ON d.cid = m.cid
    ORDER BY cid
    """,
    doc="SEMDEDUP (Abbas et al. 2023, §3): semantic dedup scoped to "
    "kmeans clusters — embeddings route through the SHARED trained "
    "coarse quantizer (_ivf_centroids_cached, the IVF/ann family's "
    "k=8 exact-mean build), pairwise cosine runs ONLY within each "
    "cluster, and any vector with a >= 0.97-cosine neighbor of lower "
    "vec_id drops (one representative per semantic-dup group "
    "survives).  Per cluster: member count, duplicate-pair count, "
    "dropped count, and max observed cosine — the last is the "
    "non-vacuous drift signal on this corpus (no semantic dups "
    "planted, so drops are 0 and max_cosine records how close the "
    "nearest in-cluster pair gets; the planted pytest proves the "
    "drop).  100 TB shape: SemDeDup's entire point is that cluster "
    "count scales with corpus size so per-cluster pair mass stays "
    "bounded (LAION runs ~100k clusters); the join shuffles on cid "
    "only, vectors never leave their cluster, and the quantizer is "
    "the cached 8-row broadcast.",
)
def semantic_dedup_kmeans(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.clustering import _ARGMIN
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    # constant cluster SIZE (the SemDeDup contract): k grows with the
    # corpus once cells would exceed ~750 members; at every shipped SF
    # this is the shared k=8 build.  n comes from the parquet footer
    # (exact, zero Spark jobs) so a centroid-stage cache hit skips the
    # corpus entirely (r14 ADVICE).
    from newyork_taxi_etl_spark.sources.readers import parquet_rowcount

    k = max(8, parquet_rowcount(table_path(sf_dir, "embeddings"))
            // _SEMDEDUP_CELL)
    cent = _ivf_centroids_cached(spark, emb, sf_dir, k=k)
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    base = emb.select(
        "vec_id",
        "embedding",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    cells = (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select("vec_id", "embedding", "cid")
    )
    members = cells.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    # precompute each vector's norm ONCE (sqrt of the same self-dot the
    # oracle's denominator takes, so na * nb is bit-identical to
    # sqrt(da) * sqrt(db) computed per pair) — the per-pair work drops
    # from 3 dots to 1, which at 625-member cells is 3x less arithmetic
    from newyork_taxi_etl_spark.operators.similarity import _DOT

    norm = F.expr(f"sqrt({_DOT.format(a='e', b='e')})")
    sized = cells.select(
        "cid",
        "vec_id",
        F.col("embedding").alias("e"),
    ).select("cid", "vec_id", "e", norm.alias("nrm"))
    a = sized.select(
        "cid",
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = sized.select(
        "cid",
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    dot = F.expr(_DOT.format(a="ea", b="eb"))
    # r16 (guide §2.5/§3.1): the pair join's only key is cid, so its
    # parallelism is capped at k (8 at every shipped SF) — a quarter of
    # the local cores idle under ~1.5M pairwise dots, and a byte-sized
    # salt is useless because AQE coalesces the tiny-bytes/heavy-CPU
    # post-shuffle partitions right back together.  Scale-adaptive fix:
    # when the WHOLE cells table is broadcast-sized (n from the parquet
    # footer; ~64-dim rows => <=50k rows is well under the 10 MB
    # default), broadcast the build side — the pair generation then runs
    # exchange-free at the probe scan's parallelism (emb is
    # spread_small_scan'd upstream).  Past that size SemDeDup's own
    # contract takes over (k grows with the corpus, so the cid shuffle
    # join has >= core-count cells) and the plain join is right.
    n_emb = parquet_rowcount(table_path(sf_dir, "embeddings"))
    if n_emb <= 50_000:
        joined = a.join(F.broadcast(b), "cid")
    else:
        joined = a.join(b, "cid")
    pairs = (
        joined
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "cid",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
    )
    is_dup = F.col("cosine") >= F.lit(_SEMDEDUP_TAU)
    dup = pairs.groupBy("cid").agg(
        F.sum(is_dup.cast("int")).cast("bigint").alias("n_dup_pairs"),
        F.countDistinct(F.when(is_dup, F.col("id_b")))
        .cast("bigint")
        .alias("n_dropped"),
        F.max("cosine").alias("max_cosine"),
    )
    return (
        members.join(dup, "cid", "left")
        .select(
            "cid",
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            "max_cosine",
        )
        .orderBy("cid")
    )


@register(
    "prototype_pruning_select",
    f"""
    WITH emb AS (
      SELECT vec_id, embedding,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    {_IVF_COARSE_CTES},
    dist AS (
      SELECT a.cand_id AS vec_id, a.cid,
             {_IVF_KM_DIST.format(a='e.v', b='c.vec')} AS d
      FROM cells a
      JOIN emb e ON e.vec_id = a.cand_id
      JOIN c1 c ON c.cid = a.cid
    ),
    ranked AS (
      SELECT vec_id, cid, d,
             ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d, vec_id) AS r,
             COUNT(*) OVER (PARTITION BY cid) AS n
      FROM dist
    )
    SELECT cid,
           CAST(MAX(n) AS BIGINT) AS n_members,
           CAST(MAX(n) // 5 AS BIGINT) AS n_pruned,
           ROUND(MAX(CASE WHEN r <= n // 5 THEN d END), 6)
             AS max_pruned_dist,
           ROUND(MIN(CASE WHEN r > n // 5 THEN d END), 6)
             AS min_kept_dist
    FROM ranked
    GROUP BY cid
    ORDER BY cid
    """,
    doc="SSL-PROTOTYPES data pruning (Sorscher et al. 2022 'Beyond "
    "neural scaling laws'): within each cluster of the SHARED trained "
    "quantizer, the 20% of points CLOSEST to their centroid are the "
    "most prototypical — least informative to train on — and are "
    "marked pruned (rank by (sqdist, vec_id), n//5 per cluster).  "
    "Emits the per-cluster prune ledger: member count, pruned count, "
    "the distance frontier (max pruned / min kept — the margin a "
    "monitor watches to see whether easy examples cluster tightly).  "
    "100 TB shape: one broadcast-argmin assignment pass + one window "
    "per cluster whose width is bounded because cluster count scales "
    "with corpus size; nothing global, nothing all-pairs.",
)
def prototype_pruning_select(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.clustering import (
        _ARGMIN,
        _SQDIST,
    )
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    cent = _ivf_centroids_cached(spark, emb, sf_dir)
    cent_row = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "vec"))).alias("cents")
    )
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("_v"),
    )
    cells = (
        base.join(F.broadcast(cent_row), how="cross")
        .withColumn("cid", F.expr(_ARGMIN))
        .select("vec_id", "_v", "cid")
    )
    dist = cells.join(
        F.broadcast(cent.select("cid", F.col("vec").alias("cvec"))), "cid"
    ).select(
        "vec_id",
        "cid",
        F.expr(_SQDIST.format(a="_v", b="cvec")).alias("d"),
    )
    w = Window.partitionBy("cid").orderBy("d", "vec_id")
    wn = Window.partitionBy("cid")
    ranked = dist.select(
        "cid",
        "d",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pruned = F.col("r") <= F.floor(F.col("n") / 5)
    return (
        ranked.groupBy("cid")
        .agg(
            F.max("n").cast("bigint").alias("n_members"),
            F.floor(F.max("n") / 5).cast("bigint").alias("n_pruned"),
            F.round(F.max(F.when(pruned, F.col("d"))), 6).alias(
                "max_pruned_dist"
            ),
            F.round(F.min(F.when(~pruned, F.col("d"))), 6).alias(
                "min_kept_dist"
            ),
        )
        .orderBy("cid")
    )


# --- greedy k-center coreset selection -------------------------------------

_KC_K = 8
_KC_DIST = (
    "list_sum(list_transform(range(1, 65), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)


def _kcenter_sql(k: int = _KC_K) -> str:
    """Unrolled DuckDB twin of the greedy k-center loop: step j's CTE
    picks the row with MAX min-distance to centers 1..j (tie: lowest
    vec_id) — that row IS both the coverage radius of the first j
    centers and center j+1, so one CTE per step serves both outputs.
    min() over doubles is exact and order-free, so LEAST of the
    per-center sqdist folds equals the engine's array-fold min."""
    parts = [
        """s1 AS (
      SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 1
    )"""
    ]
    for j in range(1, k + 1):
        dist_terms = ", ".join(
            _KC_DIST.format(a="e.v", b=f"s{i}.v") for i in range(1, j + 1)
        )
        mind = f"LEAST({dist_terms})" if j > 1 else dist_terms
        froms = ", ".join(f"s{i}" for i in range(1, j + 1))
        parts.append(f"""r{j} AS (
      SELECT e.vec_id AS next_id, {mind} AS radius
      FROM emb e, {froms}
      ORDER BY {mind} DESC, e.vec_id LIMIT 1
    )""")
        if j < k:
            parts.append(f"""s{j + 1} AS (
      SELECT e.vec_id, e.v FROM emb e, r{j} WHERE e.vec_id = r{j}.next_id
    )""")
    selects = "\n    UNION ALL\n    ".join(
        f"""SELECT CAST({j} AS INT) AS step,
           (SELECT MAX(vec_id) FROM s{j}) AS center_id,
           ROUND((SELECT MAX(radius) FROM r{j}), 6) AS radius"""
        for j in range(1, k + 1)
    )
    return (
        "WITH emb AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
        "FROM embeddings),\n    "
        + ",\n    ".join(parts)
        + "\n    SELECT * FROM (\n    "
        + selects
        + "\n    ) ORDER BY step"
    )


@register(
    "coreset_kcenter_select",
    _kcenter_sql(),
    doc="GREEDY K-CENTER CORESET (Gonzalez 1985 2-approximation; the "
    "facility-location selection Sener & Savarese 2018 use for "
    "active-learning coresets): start from the lowest vec_id, then "
    "repeatedly add the point FARTHEST from the selected set (max "
    "min-sqdist, tie lowest id).  Emits (step, center_id, radius) "
    "where radius = the coverage radius of the first ``step`` centers "
    "— the radius-vs-k curve is the 'how many exemplars cover my "
    "corpus' sizing table, and the chosen point at step j+1 is "
    "exactly the point realizing radius j, so each corpus pass serves "
    "both.  Dataflow: per step ONE scan computing min-dist to the "
    "(broadcast, <= k-row) selected set with a TakeOrderedAndProject "
    "argmax — k passes total, never pairwise; driver state is k "
    "(id, vector) rows (the argmax-lineage rule).  min over doubles "
    "is exact and order-free, so the engine's array-fold min equals "
    "the oracle's LEAST chain bit-for-bit; radii round at 6 dp.",
)
def coreset_kcenter_select(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import (
        spread_small_scan,
    )

    emb = spread_small_scan(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
    )
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).localCheckpoint(eager=True)

    first = base.orderBy("vec_id").limit(1).collect()[0]
    centers = [(int(first["vec_id"]), list(first["v"]))]
    out = []
    for step in range(1, _KC_K + 1):
        cent_arr = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in cv])
                for _, cv in centers
            ]
        )
        mind = F.expr(
            "aggregate(transform(cents, c -> "
            "aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)), "
            "0D, (acc, t) -> acc + t)), "
            "CAST('Infinity' AS DOUBLE), (acc, d) -> least(acc, d))"
        )
        top = (
            base.withColumn("cents", cent_arr)
            .select("vec_id", mind.alias("d"))
            .orderBy(F.desc("d"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        out.append(
            (step, int(centers[-1][0]), _round6(float(top["d"])))
        )
        if step < _KC_K:
            nxt = base.filter(
                F.col("vec_id") == int(top["vec_id"])
            ).collect()[0]
            centers.append((int(nxt["vec_id"]), list(nxt["v"])))
    from newyork_taxi_etl_spark.localrel import local_rows_df

    return local_rows_df(
        spark, out, "step int, center_id bigint, radius double"
    ).orderBy("step")



#: DBSCAN gate parameters over the 512-vector exact slice: cosine >= tau
#: defines the eps-neighborhood, >= 4 neighbors (self excluded) makes a
#: core point. tau sits where the corpus's similarity tail still yields
#: tens of cores and a few hundred edges at every shipped SF.
_DBSCAN_TAU = 0.33
_DBSCAN_MINNB = 4
_DBSCAN_SLICE = 512


@register(
    "dbscan_embedding_clusters",
    f"""
    WITH RECURSIVE e0 AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_DBSCAN_SLICE}
    ),
    p AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a='a.embedding', b='b.embedding')}
            >= {_DBSCAN_TAU}
    ),
    sym AS MATERIALIZED (
      SELECT ia AS u, ib AS v FROM p
      UNION ALL
      SELECT ib AS u, ia AS v FROM p
    ),
    core AS MATERIALIZED (
      SELECT u FROM sym GROUP BY u HAVING COUNT(*) >= {_DBSCAN_MINNB}
    ),
    csym AS MATERIALIZED (
      SELECT s.u, s.v FROM sym s
      WHERE s.u IN (SELECT u FROM core) AND s.v IN (SELECT u FROM core)
    ),
    reach (u, v) AS (
      SELECT u, v FROM csym
      UNION
      SELECT r.u, s.v FROM reach r JOIN csym s ON r.v = s.u
    ),
    comp0 AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    ),
    ccl AS MATERIALIZED (
      SELECT c.u AS node, COALESCE(k.component, c.u) AS cluster
      FROM core c LEFT JOIN comp0 k ON k.node = c.u
    ),
    bord AS MATERIALIZED (
      SELECT s.u AS node, MIN(ccl.cluster) AS cluster
      FROM sym s JOIN ccl ON ccl.node = s.v
      WHERE s.u NOT IN (SELECT u FROM core)
      GROUP BY s.u
    ),
    clusters AS (
      SELECT cluster,
             SUM(is_core) AS n_core, SUM(1 - is_core) AS n_border
      FROM (
        SELECT cluster, 1 AS is_core FROM ccl
        UNION ALL
        SELECT cluster, 0 AS is_core FROM bord
      ) GROUP BY cluster
    )
    SELECT CAST(cluster AS BIGINT) AS cluster_id,
           CAST(n_core AS BIGINT) AS n_core,
           CAST(n_border AS BIGINT) AS n_border,
           CAST(n_core + n_border AS BIGINT) AS n_points
    FROM clusters
    UNION ALL
    SELECT -1, 0, 0,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e0
            WHERE vec_id NOT IN (SELECT node FROM ccl)
              AND vec_id NOT IN (SELECT node FROM bord))
    ORDER BY cluster_id
    """,
    doc=f"DBSCAN density clustering over the embedding space (exact "
    f"{_DBSCAN_SLICE}-vector slice, cosine >= {_DBSCAN_TAU} neighborhood, "
    f">= {_DBSCAN_MINNB} neighbors => core): core points cluster by "
    f"connected components over the core-core eps-graph (same bounded "
    f"label-propagation operator as dedup/linkage; a core with no core "
    f"neighbor is its own singleton cluster — CC omits edge-less nodes, "
    f"so the label join COALESCEs to self), border points attach to the "
    f"MIN cluster id among their core neighbors (deterministic tie "
    f"break), everything else is noise (cluster_id = -1 row). The "
    f"density-based complement of the centroid family (SemDeDup/k-means "
    f"prototypes): finds arbitrary-shape clusters and an explicit noise "
    f"set instead of forcing every point to a centroid. The exact "
    f"pairwise slice is the audit baseline exactly as lsh_band_sweep's "
    f"truth set — the scale path swaps the O(n^2) candidate CTE for the "
    f"banded-LSH candidate join (identical downstream core/CC/border "
    f"algebra) and shards CC by component as operators/graph already "
    f"does. Oracle replays CC as a recursive-CTE transitive closure.",
)
def dbscan_embedding_clusters(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.graph import connected_components

    # pin the slice once — every downstream branch re-reads it
    emb = (
        spark.read.parquet(table_path(sf_dir, "embeddings"))
        .filter(F.col("vec_id") < _DBSCAN_SLICE)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    # the probe side must be SPREAD: a broadcast pair-explosion stage
    # inherits the 512-row probe's (single) partition and the whole
    # O(slice^2) interpreted-HOF cosine pass lands on one core otherwise
    a = S.spread_small_scan(
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    )
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    # materialize the few-hundred-row pair frame ONCE: it feeds sym,
    # core, core_edges and border — without this every consumer replays
    # the O(slice^2) scoring join (measured 22 s -> ~3 s at sf0.1)
    pairs = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .filter(S.cosine_expr("va", "vb") >= _DBSCAN_TAU)
        .select("ia", "ib")
        .localCheckpoint(eager=True)
    )
    sym = pairs.union(pairs.select(F.col("ib").alias("ia"), F.col("ia").alias("ib")))
    core = (
        sym.groupBy(F.col("ia").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= _DBSCAN_MINNB)
        .select("node")
    )
    core_edges = (
        pairs.join(
            F.broadcast(core.withColumnRenamed("node", "ia")), "ia", "left_semi"
        )
        .join(
            F.broadcast(core.withColumnRenamed("node", "ib")), "ib", "left_semi"
        )
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    comps = connected_components(core_edges, loop_partitions=4, hops_per_round=5)
    ccl = core.join(
        F.broadcast(comps), "node", "left"
    ).select("node", F.coalesce("component", "node").alias("cluster"))
    bord = (
        sym.join(F.broadcast(core.withColumnRenamed("node", "ia")),
                 "ia", "left_anti")
        .join(
            F.broadcast(ccl.select(F.col("node").alias("ib"), "cluster")), "ib"
        )
        .groupBy(F.col("ia").alias("node"))
        .agg(F.min("cluster").alias("cluster"))
    )
    members = ccl.select("cluster", F.lit(1).alias("is_core")).union(
        bord.select("cluster", F.lit(0).alias("is_core"))
    )
    clusters = members.groupBy("cluster").agg(
        F.sum("is_core").cast("bigint").alias("n_core"),
        F.sum(1 - F.col("is_core")).cast("bigint").alias("n_border"),
    ).select(
        F.col("cluster").cast("bigint").alias("cluster_id"),
        "n_core",
        "n_border",
        (F.col("n_core") + F.col("n_border")).cast("bigint").alias("n_points"),
    )
    assigned = ccl.select("node").union(bord.select("node"))
    noise = (
        emb.join(F.broadcast(assigned), emb["vec_id"] == assigned["node"],
                 "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .select(
            F.lit(-1).cast("bigint").alias("cluster_id"),
            F.lit(0).cast("bigint").alias("n_core"),
            F.lit(0).cast("bigint").alias("n_border"),
            "n_points",
        )
    )
    return clusters.union(noise).orderBy("cluster_id")


#: LOF parameters: k=5 neighbors over the same exact slice as DBSCAN.
_LOF_K = 5


@register(
    "lof_knn_outliers",
    f"""
    WITH e0 AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_DBSCAN_SLICE}
    ),
    d AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             1 - {_COS_SQL.format(a='a.embedding', b='b.embedding')} AS dist
      FROM e0 a JOIN e0 b ON a.vec_id <> b.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT ia, ib, dist FROM (
        SELECT ia, ib, dist,
               row_number() OVER (PARTITION BY ia ORDER BY dist, ib) AS rn
        FROM d)
      WHERE rn <= {_LOF_K}
    ),
    kd AS MATERIALIZED (
      SELECT ia, MAX(dist) AS kdist FROM knn GROUP BY ia
    ),
    lrd AS MATERIALIZED (
      SELECT k.ia,
             1.0 / AVG(CASE WHEN k.dist > o.kdist THEN k.dist
                            ELSE o.kdist END) AS lrd
      FROM knn k JOIN kd o ON o.ia = k.ib
      GROUP BY k.ia
    )
    SELECT k.ia AS vec_id,
           ROUND(kd.kdist, 4) AS kdist,
           ROUND(p.lrd, 6) AS lrd,
           ROUND(AVG(o.lrd) / p.lrd, 4) AS lof
    FROM knn k
    JOIN lrd o ON o.ia = k.ib
    JOIN lrd p ON p.ia = k.ia
    JOIN kd ON kd.ia = k.ia
    GROUP BY k.ia, kd.kdist, p.lrd
    ORDER BY lof DESC, vec_id
    LIMIT 10
    """,
    doc=f"LOCAL OUTLIER FACTOR (Breunig et al. 2000, k={_LOF_K}) over the "
    f"embedding slice: per-point k-distance, reachability distance "
    f"max(d(p,o), kdist(o)), local reachability density, and "
    f"LOF = mean neighbor-lrd / own lrd — the DENSITY-RELATIVE outlier "
    f"score the z-score/MAD family can't express (a point on a sparse "
    f"cluster's edge scores high even when a dense cluster's spread "
    f"dwarfs its absolute distances). Top-10 by LOF. Relational "
    f"end-to-end: one scored pair frame, kNN via WindowGroupLimit "
    f"(per-task prune to k), two broadcast-sized per-point aggregates — "
    f"no iteration, no UDF. Exact pairwise on the audit slice exactly as "
    f"dbscan_embedding_clusters; the scale path swaps the pair CTE for "
    f"LSH candidates (LOF only ever looks at each point's k nearest).",
)
def lof_knn_outliers(spark, sf_dir):
    from pyspark.sql import Window

    # pin the slice once — every downstream branch re-reads it
    emb = (
        spark.read.parquet(table_path(sf_dir, "embeddings"))
        .filter(F.col("vec_id") < _DBSCAN_SLICE)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    # the probe side must be SPREAD: a broadcast pair-explosion stage
    # inherits the 512-row probe's (single) partition and the whole
    # O(slice^2) interpreted-HOF cosine pass lands on one core otherwise
    a = S.spread_small_scan(
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    )
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    d = a.join(F.broadcast(b), F.col("ia") != F.col("ib")).select(
        "ia", "ib", (1 - S.cosine_expr("va", "vb")).alias("dist")
    )
    w = Window.partitionBy("ia").orderBy("dist", "ib")
    # knn is slice x k rows and feeds kd, lrd and the final score join —
    # materialize once so the O(slice^2) scoring pass runs exactly once
    knn = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _LOF_K)
        .select("ia", "ib", "dist")
        .localCheckpoint(eager=True)
    )
    kd = knn.groupBy("ia").agg(F.max("dist").alias("kdist"))
    lrd = (
        knn.join(
            F.broadcast(kd.select(F.col("ia").alias("ib"),
                                  F.col("kdist").alias("nb_kdist"))),
            "ib",
        )
        .groupBy("ia")
        .agg(
            (1.0 / F.avg(F.greatest("dist", "nb_kdist"))).alias("lrd")
        )
    )
    out = (
        knn.join(
            F.broadcast(lrd.select(F.col("ia").alias("ib"),
                                   F.col("lrd").alias("nb_lrd"))),
            "ib",
        )
        .join(F.broadcast(lrd), "ia")
        .join(F.broadcast(kd), "ia")
        .groupBy("ia", "kdist", "lrd")
        .agg((F.avg("nb_lrd") / F.first("lrd")).alias("lof_raw"))
        .select(
            F.col("ia").alias("vec_id"),
            F.round("kdist", 4).alias("kdist"),
            F.round("lrd", 6).alias("lrd"),
            F.round("lof_raw", 4).alias("lof"),
        )
    )
    return out.orderBy(F.desc("lof"), "vec_id").limit(10)
