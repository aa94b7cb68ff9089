"""Graph queries: near-dup pairs → duplicate clusters (north-star surface).

Completes the dedup pipeline end-to-end: the pair emitters
(``operators/dedup.py``, ``operators/similarity.py``) produce *edges*;
``dedup_clusters`` runs min-label-propagation connected components
(``operators/graph.py``) over the LSH pair graph so every near-dup document
maps to a canonical representative (the component-minimum id — the "keep
this one" decision a training-data pipeline acts on).

The oracle is a DuckDB recursive CTE computing the same transitive closure:
``component(u) = min id reachable from u`` — tractable at oracle SF because
the pair set is LSH-bounded, while the Spark side scales as rounds of
join+min (one shuffle per round, lineage truncated per round).
"""

from __future__ import annotations

from newyork_taxi_etl_spark.operators.graph import connected_components
from newyork_taxi_etl_spark.operators.similarity import (
    cosine_pairs_lsh_multiband_blas,
)
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.sources.readers import table_path

_COS_SQL = (
    "ROUND(list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
    " CAST(eb.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
    " CAST(ea.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),"
    " CAST(eb.embedding AS DOUBLE[])))), 4)"
)


def _multiband_pairs_sql() -> str:
    """Shared edge-set CTEs: multiband LSH near-dup pairs at cosine >= 0.4
    (DuckDB twin of operators.similarity.cosine_pairs_lsh_multiband with
    queries.similarity.LSH_BANDS)."""
    from newyork_taxi_etl_spark.queries.similarity import bands_sql

    return f"""k AS (
      {bands_sql('vec_id')}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM k a JOIN k b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT cand.id_a, cand.id_b
      FROM cand JOIN embeddings ea ON cand.id_a = ea.vec_id
                JOIN embeddings eb ON cand.id_b = eb.vec_id
      WHERE {_COS_SQL} >= 0.4
    )"""


def _multiband_pairs(spark, sf_dir):
    """Multiband-LSH near-dup edge set (id_a, id_b) through the
    per-process stage cache (r16, guide §2.4/§1.2): SEVEN registered
    queries mine the identical pair set from the identical embeddings
    (dedup_clusters, dedup_canonical_docs, dedup_aware_split,
    semantic_dedup_quality_keeper, similarity_triangle_count,
    graph_two_core, graph_bfs_hops) — each was re-running the full LSH
    banding + candidate join + cosine scoring pass.  The edge list is
    two bigint columns (bit-exact through parquet) and deterministic;
    every consumer is row-order independent.  The parquet-backed stage
    also replaces the per-query localCheckpoint pins those consumers
    carried."""
    from newyork_taxi_etl_spark.queries.similarity import LSH_BANDS
    from newyork_taxi_etl_spark.stagecache import cached_df

    def build():
        emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
        # BLAS bucket scorer: result-identical fast twin
        # (see operators.similarity)
        return cosine_pairs_lsh_multiband_blas(
            emb, threshold=0.4, bands=LSH_BANDS
        )

    return cached_df(
        spark, f"multiband_pairs04:{sf_dir}", build, n_files=1
    )


def _multiband_components(spark, sf_dir):
    """Connected components (node, component) over the multiband pair
    graph through the same stage cache — four queries run the identical
    label propagation (loop_partitions=4, hops_per_round=5) over the
    identical edge set; the loop is a pure function of the edges."""
    from newyork_taxi_etl_spark.stagecache import cached_df

    def build():
        return connected_components(
            _multiband_pairs(spark, sf_dir),
            loop_partitions=4,
            hops_per_round=5,
        )

    return cached_df(
        spark, f"multiband_components04:{sf_dir}", build, n_files=1
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_multiband_pairs_sql()},
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach (u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    )
    SELECT u AS node, LEAST(u, MIN(v)) AS component
    FROM reach GROUP BY u ORDER BY node
    """,
    doc="dup clustering: multiband-LSH near-dup pairs (same LSH_BANDS as "
    "the ANN path, recall driver-gated) -> connected components (iterative "
    "join+min label propagation, lineage truncated per round) -> "
    "component-minimum canonical id per doc; oracle = recursive-CTE "
    "transitive closure over the identical pair set",
)
def dedup_clusters(spark, sf_dir):
    # loop_partitions=4: the label loop runs on label-sized tables (~1k
    # rows here; size to label cardinality at real scale); hops=5 covers
    # the measured diameter-13 near-dup graph in 4 rounds — see
    # operators.graph.connected_components.  Stage-cached (r16): four
    # queries consume this identical component table.
    return _multiband_components(spark, sf_dir).orderBy("node")


@register(
    "dedup_canonical_docs",
    f"""
    WITH RECURSIVE {_multiband_pairs_sql()},
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach (u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    ORDER BY d.doc_id
    """,
    doc="end-to-end dedup: LSH near-dup pairs over the doc embeddings "
    "(vec_id == doc_id) -> connected components -> DROP every cluster "
    "member except the component-minimum id -> surviving canonical "
    "documents. The final step is a left-anti join of the corpus against "
    "the (tiny) drop list — broadcast anti join, no corpus shuffle; this "
    "is the query a training-data pipeline actually ships",
)
def dedup_canonical_docs(spark, sf_dir):
    from pyspark.sql import functions as F

    comps = _multiband_components(spark, sf_dir)
    drop = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return (
        # drop list is bounded by the dup count (<< corpus): broadcast the
        # anti side so the corpus never shuffles
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _pr_iter_sql(i: int) -> str:
    """One unrolled PageRank round (DuckDB twin of operators.graph.pagerank):
    decimal-exact inbound sum, 12-digit round per round."""
    return f"""
    r{i + 1} AS (
      SELECT nd.node,
             ROUND((1 - 0.85) / n.n + 0.85 * COALESCE(inb.s, 0), 12) AS rank
      FROM nodes nd CROSS JOIN n
      LEFT JOIN (
        SELECT e.v AS node,
               CAST(SUM(CAST(ROUND(r{i}.rank / deg.deg, 12)
                             AS DECIMAL(38,12))) AS DOUBLE) AS s
        FROM e JOIN r{i} ON e.u = r{i}.node JOIN deg ON e.u = deg.u
        GROUP BY 1
      ) inb ON nd.node = inb.node
    )"""


@register(
    "pagerank_source_lang",
    f"""
    WITH e0 AS (SELECT DISTINCT source AS u, lang AS v FROM documents),
    e AS (SELECT u, v FROM e0 UNION SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u, COUNT(*) AS deg FROM e GROUP BY 1),
    nodes AS (SELECT DISTINCT u AS node FROM e),
    n AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes CROSS JOIN n),
    {','.join(_pr_iter_sql(i) for i in range(3))}
    SELECT node, ROUND(rank, 6) AS rank FROM r3
    ORDER BY rank DESC, node
    """,
    doc="PageRank (3 synchronous rounds, d=0.85) over the symmetrized "
    "source<->lang affinity graph of the documents corpus — the iterative "
    "custom operator family beyond connected components. Each round is "
    "edges-join-ranks + one hash aggregate on the target (two shuffles), "
    "lineage truncated per round; per-edge contributions round to 12 "
    "digits and the inbound sum runs through DECIMAL(38,12), so every "
    "round is order-independent and both engines agree exactly. Oracle = "
    "3 unrolled CTE rounds of the identical recurrence",
)
def pagerank_source_lang(spark, sf_dir):
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.operators.graph import pagerank

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    e0 = docs.select(
        F.col("source").alias("u"), F.col("lang").alias("v")
    ).distinct()
    edges = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    ranks = pagerank(edges, iters=3, damping=0.85)
    return ranks.select(
        "node", F.round("rank", 6).alias("rank")
    ).orderBy(F.desc("rank"), "node")


@register(
    "similarity_triangle_count",
    f"""
    WITH {_multiband_pairs_sql()},
    wedges AS (
      SELECT e1.id_a AS a, e2.id_b AS c
      FROM pairs e1 JOIN pairs e2 ON e1.id_b = e2.id_a
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM wedges w
      WHERE EXISTS (SELECT 1 FROM pairs p
                    WHERE p.id_a = w.a AND p.id_b = w.c)
    )
    SELECT
      (SELECT COUNT(DISTINCT u) FROM (
         SELECT id_a AS u FROM pairs UNION ALL SELECT id_b FROM pairs))
        AS n_nodes,
      (SELECT COUNT(*) FROM pairs) AS n_edges,
      (SELECT n_triangles FROM tri) AS n_triangles
    """,
    doc="global triangle count over the thresholded similarity graph "
    "(multiband-LSH cosine>=0.4 edges, oriented id_a < id_b): wedge "
    "enumeration via one self-equi-join on the middle vertex + a semi join "
    "for the closing edge — the clustering-coefficient primitive of "
    "community detection. Orientation bounds join fan-out by out-degree "
    "(orient by (degree, id) at hub-heavy scale — Suri & Vassilvitskii "
    "WWW'11, same dataflow); edges localCheckpointed so the LSH miner "
    "runs once, not three times",
)
def similarity_triangle_count(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.graph import triangle_count

    return triangle_count(_multiband_pairs(spark, sf_dir))


@register(
    "semantic_dedup_quality_keeper",
    f"""
    WITH RECURSIVE {_multiband_pairs_sql()},
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach (u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS component
      FROM reach GROUP BY u
    ),
    q AS (
      SELECT doc_id,
             ROUND(
               0.4 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
               + 0.4 * (CAST(len(list_distinct(string_split(text, ' ')))
                             AS DOUBLE)
                        / len(string_split(text, ' ')))
               + 0.2 * (CASE WHEN n_chars BETWEEN 100 AND 400
                             THEN 1.0 ELSE 0.0 END),
               4) AS quality
      FROM documents
    ),
    m AS (
      SELECT c.component, c.node, q.quality
      FROM comp c JOIN q ON c.node = q.doc_id
    ),
    pick AS (
      SELECT component, node AS keeper_id, quality AS keeper_quality
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY component
                       ORDER BY quality DESC, node) AS r FROM m)
      WHERE r = 1
    ),
    base AS (
      SELECT component, MIN(node) AS minid_keeper,
             CAST(COUNT(*) AS BIGINT) AS n_members
      FROM m GROUP BY component
    )
    SELECT b.component AS entity_id, b.n_members,
           p.keeper_id, p.keeper_quality,
           b.minid_keeper,
           mq.quality AS minid_quality,
           ROUND(p.keeper_quality - mq.quality, 4) AS quality_gain,
           p.keeper_id <> b.minid_keeper AS keeper_changed
    FROM base b
    JOIN pick p ON b.component = p.component
    JOIN m mq ON b.component = mq.component AND b.minid_keeper = mq.node
    ORDER BY entity_id
    """,
    doc="QUALITY-AWARE canonical selection for semantic dup clusters — "
    "the cross-table composition a real curation stack runs (SemDeDup "
    "finds the groups; something must decide WHICH copy trains): the "
    "multiband-LSH near-dup components (same edge set as "
    "dedup_clusters) join the documents table (vec_id == doc_id on "
    "this corpus) and each cluster keeps its HIGHEST-text_quality_score "
    "member (ties to smallest id) instead of the blind min-id rule, "
    "reporting both keepers side by side with the measured "
    "quality_gain — the value of looking at content before discarding "
    "it, stated per cluster (keeper_changed marks where the two rules "
    "disagree). Scale shape: component labels from the iterative "
    "join+min propagation (O(edges) per round), quality is a per-row "
    "projection, selection is one ranking window over cluster members "
    "— cluster-sized, never corpus-sized.",
)
def semantic_dedup_quality_keeper(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    comp = _multiband_components(spark, sf_dir)
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    q = docs.select(
        "doc_id",
        F.round(
            0.4 * F.least(F.size(toks) / 50.0, F.lit(1.0))
            + 0.4 * ttr
            + 0.2
            * F.when(F.col("n_chars").between(100, 400), 1.0).otherwise(0.0),
            4,
        ).alias("quality"),
    )
    m = comp.join(q, comp["node"] == q["doc_id"]).select(
        "component", "node", "quality"
    )
    m = m.localCheckpoint(eager=True)  # pick + base + minid-quality join
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.col("node")
    )
    pick = (
        m.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "component",
            F.col("node").alias("keeper_id"),
            F.col("quality").alias("keeper_quality"),
        )
    )
    base = m.groupBy("component").agg(
        F.min("node").alias("minid_keeper"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    mq = m.select(
        F.col("component").alias("component"),
        F.col("node").alias("minid_keeper"),
        F.col("quality").alias("minid_quality"),
    )
    return (
        base.join(pick, "component")
        .join(mq, ["component", "minid_keeper"])
        .select(
            F.col("component").alias("entity_id"),
            "n_members",
            "keeper_id",
            "keeper_quality",
            "minid_keeper",
            "minid_quality",
            F.round(
                F.col("keeper_quality") - F.col("minid_quality"), 4
            ).alias("quality_gain"),
            (F.col("keeper_id") != F.col("minid_keeper")).alias(
                "keeper_changed"
            ),
        )
        .orderBy("entity_id")
    )


@register(
    "dedup_aware_split",
    f"""
    WITH RECURSIVE {_multiband_pairs_sql()},
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach (u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    comp AS (
      SELECT u AS node, LEAST(u, MIN(v)) AS component
      FROM reach GROUP BY u
    ),
    tagged AS (
      SELECT d.doc_id,
             COALESCE(c.component, d.doc_id) AS gid
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    split AS (
      SELECT doc_id, gid,
             ((gid * 2654435761) % 4294967296) % 100 < 80 AS aware_train,
             ((doc_id * 2654435761) % 4294967296) % 100 < 80 AS naive_train
      FROM tagged
    ),
    pairx AS (
      SELECT p.id_a, p.id_b,
             sa.aware_train AS at_a, sb.aware_train AS at_b,
             sa.naive_train AS nt_a, sb.naive_train AS nt_b
      FROM pairs p
      JOIN split sa ON p.id_a = sa.doc_id
      JOIN split sb ON p.id_b = sb.doc_id
    )
    SELECT CAST((SELECT COUNT(*) FROM split) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(DISTINCT gid) FROM split) AS BIGINT)
             AS n_groups,
           CAST((SELECT COUNT(*) FROM pairx) AS BIGINT) AS n_dup_pairs,
           ROUND((SELECT CAST(SUM(CASE WHEN aware_train THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) FROM split), 6)
             AS aware_train_frac,
           ROUND((SELECT CAST(SUM(CASE WHEN naive_train THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) FROM split), 6)
             AS naive_train_frac,
           CAST((SELECT COALESCE(SUM(CASE WHEN nt_a <> nt_b
                                          THEN 1 ELSE 0 END), 0)
                 FROM pairx) AS BIGINT) AS naive_cross_pairs,
           CAST((SELECT COALESCE(SUM(CASE WHEN at_a <> at_b
                                          THEN 1 ELSE 0 END), 0)
                 FROM pairx) AS BIGINT) AS aware_cross_pairs
    """,
    doc="DEDUP-AWARE TRAIN/TEST SPLIT — the leakage control every "
    "benchmark-honest pipeline needs (a near-dup of a training doc in "
    "the test set IS contamination; temporal_holdout_audit measured the "
    "user-level version of this): documents are split 80/20 by a "
    "deterministic hash of their DUP-CLUSTER id (multiband-LSH "
    "connected components; singletons hash their own id) instead of "
    "their doc id, so every near-dup pair lands on ONE side by "
    "construction. The query PROVES it by measurement: cross-split dup "
    "pairs under the naive doc-hash split (~30% of pairs — the leak) "
    "vs under the cluster-hash split (exactly 0), with both splits' "
    "train fractions to show the group split costs no balance. Scale "
    "shape: components from iterative join+min propagation, split "
    "assignment is a pure projection, leakage counts are two "
    "broadcast-joined pair scans.",
)
def dedup_aware_split(spark, sf_dir):
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.operators.sampling import hash_bucket

    # both stages come from the parquet-backed cache (r16) — the pair
    # mining and the component loop each run once per process across the
    # seven consumer queries; the eager localCheckpoint pin is obsolete
    pairs = _multiband_pairs(spark, sf_dir)
    comp = _multiband_components(spark, sf_dir)
    docs = spark.read.parquet(table_path(sf_dir, "documents")).select(
        "doc_id"
    )
    split = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("gid"),
        )
        .select(
            "doc_id",
            "gid",
            (hash_bucket("gid", 100) < 80).alias("aware_train"),
            (hash_bucket("doc_id", 100) < 80).alias("naive_train"),
        )
        .localCheckpoint(eager=True)  # totals + both pair-end joins
    )
    sa = split.select(
        F.col("doc_id").alias("id_a"),
        F.col("aware_train").alias("at_a"),
        F.col("naive_train").alias("nt_a"),
    )
    sb = split.select(
        F.col("doc_id").alias("id_b"),
        F.col("aware_train").alias("at_b"),
        F.col("naive_train").alias("nt_b"),
    )
    pairx = pairs.select("id_a", "id_b").join(sa, "id_a").join(sb, "id_b")
    totals = split.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("gid").cast("bigint").alias("n_groups"),
        F.round(
            F.sum(F.col("aware_train").cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("aware_train_frac"),
        F.round(
            F.sum(F.col("naive_train").cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("naive_train_frac"),
    )
    leaks = pairx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"),
        F.coalesce(
            F.sum((F.col("nt_a") != F.col("nt_b")).cast("int")), F.lit(0)
        )
        .cast("bigint")
        .alias("naive_cross_pairs"),
        F.coalesce(
            F.sum((F.col("at_a") != F.col("at_b")).cast("int")), F.lit(0)
        )
        .cast("bigint")
        .alias("aware_cross_pairs"),
    )
    return totals.crossJoin(F.broadcast(leaks)).select(
        "n_docs",
        "n_groups",
        "n_dup_pairs",
        "aware_train_frac",
        "naive_train_frac",
        "naive_cross_pairs",
        "aware_cross_pairs",
    )


def _two_core_sql(peels: int = 8) -> str:
    """Unrolled k-core (k=2) peel chain over the multiband pair graph.

    One CTE triple per peel: degrees over the surviving symmetric edge
    set, the >= k node set, the edge set restricted to kept endpoints.
    Both engines unroll the IDENTICAL fixed number of peels (no
    fixpoint detection — engine-fair determinism); the per-iteration
    stats rows make convergence visible in the result itself.
    """
    parts = [
        f"""e0 AS MATERIALIZED (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    )"""
    ]
    for i in range(1, peels + 1):
        parts.append(f"""
    d{i} AS (SELECT u, COUNT(*) AS c FROM e{i - 1} GROUP BY u),
    n{i} AS (SELECT u FROM d{i} WHERE c >= 2),
    e{i} AS MATERIALIZED (
      SELECT e.u, e.v
      FROM e{i - 1} e JOIN n{i} a ON e.u = a.u JOIN n{i} b ON e.v = b.u
    )""")
    stats = "\nUNION ALL\n".join(
        f"""SELECT {i} AS iteration,
               CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes,
               CAST(COUNT(*) / 2 AS BIGINT) AS n_edges
        FROM e{i}"""
        for i in range(0, peels + 1)
    )
    return ",".join(parts) + f" SELECT * FROM ({stats}) ORDER BY iteration"


@register(
    "graph_two_core",
    f"""
    WITH {_multiband_pairs_sql()},
    {_two_core_sql(8)}
    """,
    doc="2-core decomposition of the near-dup pair graph: iteratively "
    "peel nodes of degree < 2 until only the dense core remains — "
    "separates genuine dup CLUSTERS (every member >= 2 neighbors) "
    "from the weak chains/pendants that transitive closure alone "
    "(dedup_clusters) conflates with them, which is the difference "
    "between 'delete all but one' and 'needs human review' in a "
    "dedup pipeline. Both engines run the IDENTICAL 8 unrolled "
    "peels (constant-bounded, no data-dependent fixpoint probe); "
    "the output is the per-iteration (n_nodes, n_edges) decay curve, "
    "so convergence is visible as a flat tail in the result itself. "
    "Scale shape: each peel is one map-side-combinable degree "
    "aggregate plus two semi-joins against the (node-sized, "
    "broadcastable) kept set; edge tables only shrink; lineage is "
    "truncated per peel (localCheckpoint) exactly like the "
    "connected-components loop.",
)
def graph_two_core(spark, sf_dir):
    from pyspark.sql import functions as F

    pairs = _multiband_pairs(spark, sf_dir)
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .localCheckpoint()
    )

    def _stats(df, i):
        return df.agg(
            F.lit(i).alias("iteration"),
            F.countDistinct("u").cast("bigint").alias("n_nodes"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        )

    out = _stats(e, 0)
    for i in range(1, 9):
        keep = (
            e.groupBy("u")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= 2)
            .select("u")
        )
        e = (
            e.join(F.broadcast(keep), "u")
            .join(F.broadcast(keep.withColumnRenamed("u", "v")), "v")
            .select("u", "v")
            .localCheckpoint()
        )
        out = out.union(_stats(e, i))
    return out.orderBy("iteration")


@register(
    "graph_bfs_hops",
    "WITH RECURSIVE " + _multiband_pairs_sql() + """,
    sym AS MATERIALIZED (
      -- UNION ALL + DISTINCT, not bare UNION: inside a WITH RECURSIVE
      -- block DuckDB gives union-CTEs recursive-union treatment and the
      -- cross-branch dedup is NOT applied (observed: alln came back
      -- 120 = 60 + 60 raw rows vs 102 distinct outside the block)
      SELECT DISTINCT u, v FROM (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs)
    ),
    srcn AS (SELECT LEAST(MIN(id_a), MIN(id_b)) AS s FROM pairs),
    walk (node, hop) AS (
      SELECT s, 0 FROM srcn
      UNION
      SELECT sym.v, w.hop + 1
      FROM walk w JOIN sym ON sym.u = w.node
      WHERE w.hop < 6
    ),
    best AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node),
    alln AS (
      SELECT DISTINCT node FROM (
        SELECT id_a AS node FROM pairs
        UNION ALL
        SELECT id_b AS node FROM pairs)
    ),
    hist AS (
      SELECT CAST(hop AS INT) AS hop,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(MIN(node) AS BIGINT) AS min_node
      FROM best GROUP BY hop
      UNION ALL
      SELECT -1, CAST(COUNT(*) AS BIGINT), CAST(MIN(a.node) AS BIGINT)
      FROM alln a WHERE a.node NOT IN (SELECT node FROM best)
      HAVING COUNT(*) > 0
    )
    SELECT hop, n_nodes, min_node FROM hist ORDER BY hop
    """,
    doc="BFS HOP HISTOGRAM over the multiband-LSH near-dup pair graph "
    "(same edge set as dedup_clusters): minimum-hop distance from the "
    "canonical source (global minimum node id) out to 6 hops, reported "
    "as hop -> (node count, smallest node) with a hop=-1 row counting "
    "pair-graph nodes NOT reached (other components or beyond the "
    "horizon) — the reachability/diameter probe over a dedup graph "
    "(how transitive is my near-dup relation?). Frontier BFS: per round "
    "ONE frontier-sized shuffle + anti join against visited, lineage "
    "truncated per round, early exit on a drained frontier "
    "(operators/graph.bfs_hops — same loop hygiene as "
    "connected_components; the source comes from an aggregate, not a "
    "collect). Oracle replays min-hop BFS as a recursive CTE.",
)
def graph_bfs_hops(spark, sf_dir):
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.operators.graph import bfs_hops

    # edge mining (LSH bands + candidate join + cosine) is the expensive
    # pass — the parquet-backed stage cache (r16) materializes the small
    # pair set once per process; it feeds the BFS loop, the hop histogram
    # AND the unreached anti join
    pairs = _multiband_pairs(spark, sf_dir)
    best = bfs_hops(pairs, max_hops=6)
    hist = best.groupBy("hop").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("min_node"),
    ).select(F.col("hop").cast("int").alias("hop"), "n_nodes", "min_node")
    alln = (
        pairs.select(F.col("id_a").alias("node"))
        .union(pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    unreached = (
        alln.join(best.select("node"), "node", "left_anti")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("node").cast("bigint").alias("min_node"),
        )
        .filter(F.col("n_nodes") > 0)
        .select(F.lit(-1).cast("int").alias("hop"), "n_nodes", "min_node")
    )
    return hist.union(unreached).orderBy("hop")
