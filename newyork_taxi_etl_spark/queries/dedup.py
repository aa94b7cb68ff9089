"""Dedup queries over ``documents``/``embeddings`` (north-star surface).

The synthetic corpus has no true near-dups (max 3-shingle Jaccard ≈ 0.022),
so the LSH pair query legitimately returns an empty (oracle-matched) set at
this SF; the *functionality* is proven by unit tests with planted dups
(tests/test_dedup.py) and the signature queries here are fully value-checked
row-by-row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.operators import dedup as D
from newyork_taxi_etl_spark.functions.text import minhash_sql, shingles_sql
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.session import spread
from newyork_taxi_etl_spark.sources.readers import table_path

_SH = shingles_sql("text", 3)


@register(
    "dedup_exact",
    """
    SELECT md5(lower(trim(text))) AS content_fp,
           MIN(doc_id) AS keeper,
           COUNT(*) AS copies
    FROM documents
    GROUP BY 1
    ORDER BY keeper
    """,
    doc="exact dedup: hash-groupBy on normalized content, min-id keeper "
    "(one shuffle on the content hash, map-side combine)",
)
def dedup_exact(spark, sf_dir):
    return D.dedup_exact(spark.read.parquet(table_path(sf_dir, "documents")))


@register(
    "dedup_prefix_block",
    """
    SELECT string_split(text, ' ')[1] || ' ' || string_split(text, ' ')[2]
             AS prefix_key,
           MIN(doc_id) AS keeper,
           COUNT(*) AS group_size
    FROM documents
    GROUP BY 1
    ORDER BY keeper
    """,
    doc="blocking-key dedup (2-token prefix): the grouping stage of a "
    "near-dup pipeline, non-vacuous on this corpus (31-word vocab)",
)
def dedup_prefix_block(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    # F.concat (not concat_ws) so a single-token doc yields a NULL key, the
    # same NULL-propagation the oracle's `||` has — concat_ws would silently
    # drop the NULL second token and diverge cross-engine.
    return (
        df.withColumn(
            "prefix_key",
            F.concat(F.element_at(toks, 1), F.lit(" "), F.element_at(toks, 2)),
        )
        .groupBy("prefix_key")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("group_size"))
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH sigs AS (
      SELECT doc_id,
             {minhash_sql(_SH, 0)} AS mh_0,
             {minhash_sql(_SH, 1)} AS mh_1,
             {minhash_sql(_SH, 2)} AS mh_2,
             {minhash_sql(_SH, 3)} AS mh_3
      FROM documents
    ),
    bands AS (
      SELECT doc_id, 0 AS band_idx, md5(concat(mh_0, '|', mh_1)) AS band_hash FROM sigs
      UNION ALL
      SELECT doc_id, 1 AS band_idx, md5(concat(mh_2, '|', mh_3)) AS band_hash FROM sigs
    ),
    hot AS (
      SELECT band_idx, band_hash FROM bands
      GROUP BY band_idx, band_hash HAVING COUNT(*) > 64
    ),
    capped AS (
      SELECT * FROM bands b0
      WHERE NOT EXISTS (SELECT 1 FROM hot h
                        WHERE h.band_idx = b0.band_idx
                          AND h.band_hash = b0.band_hash)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
    doc="MinHash(4 sigs, md5 family) + banded LSH (2 bands x r=2) with the "
    "hot-band cap (buckets > 64 members dropped pre-join — boilerplate "
    "collapse protection, identical HAVING cap in the oracle): candidate "
    "pairs meet only inside band buckets — the 100 TB near-dup path; empty "
    "result on this corpus is the CORRECT answer (no near-dups planted)",
)
def dedup_minhash_lsh(spark, sf_dir):
    docs = spread(spark.read.parquet(table_path(sf_dir, "documents")))
    sigs = D.with_minhash(docs, k=4)
    return D.lsh_candidate_pairs(sigs, k=4, rows_per_band=2, max_band_size=64)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (
      SELECT doc_id, lang, list_distinct({_SH}) AS s FROM documents
    ),
    inv AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
    nd AS (SELECT lang, COUNT(*) AS n_docs FROM sh GROUP BY 1),
    hot AS (
      SELECT d.lang, d.g
      FROM (SELECT lang, g, COUNT(*) AS df FROM inv GROUP BY 1, 2) d
      JOIN nd USING (lang)
      WHERE d.df > nd.n_docs * 0.02
    ),
    invp AS (
      SELECT i.doc_id, i.lang, i.g FROM inv i
      ANTI JOIN hot h ON i.lang = h.lang AND i.g = h.g
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM invp GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM invp a JOIN invp b
        ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(shared AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.id_a = sa.doc_id
    JOIN sizes sb ON pairs.id_b = sb.doc_id
    WHERE ROUND(CAST(shared AS DOUBLE)
                / (sa.n_sh + sb.n_sh - shared), 6) >= 0.01
    ORDER BY id_a, id_b
    """,
    doc="exact 3-gram-shingle Jaccard, blocked by lang (the verify stage of "
    "near-dup), with stopword-shingle pruning: shingles in >2% of a "
    "block's docs are dropped before the inverted-index self-join (they "
    "carry f^2 join mass and ~zero dedup signal — the 100 TB boilerplate "
    "guard), and Jaccard runs over the pruned sets. The oracle applies the "
    "IDENTICAL cap via the same inverted-index formulation, so the pair "
    "set is value-checked end-to-end; threshold 0.01 keeps it non-vacuous "
    "on this corpus",
)
def dedup_ngram_jaccard(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return D.shingle_jaccard_pairs(docs, "lang", threshold=0.01, max_df_frac=0.02)


@register(
    "dedup_containment",
    f"""
    WITH sh AS (
      SELECT doc_id, lang, list_distinct({_SH}) AS s FROM documents
    ),
    inv AS (SELECT doc_id, lang, unnest(s) AS g FROM sh),
    nd AS (SELECT lang, COUNT(*) AS n_docs FROM sh GROUP BY 1),
    hot AS (
      SELECT d.lang, d.g
      FROM (SELECT lang, g, COUNT(*) AS df FROM inv GROUP BY 1, 2) d
      JOIN nd USING (lang)
      WHERE d.df > nd.n_docs * 0.02
    ),
    invp AS (
      SELECT i.doc_id, i.lang, i.g FROM inv i
      ANTI JOIN hot h ON i.lang = h.lang AND i.g = h.g
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM invp GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM invp a JOIN invp b
        ON a.lang = b.lang AND a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
           ROUND(CAST(shared AS DOUBLE)
                 / LEAST(sa.n_sh, sb.n_sh), 6) AS containment
    FROM pairs
    JOIN sizes sa ON pairs.id_a = sa.doc_id
    JOIN sizes sb ON pairs.id_b = sb.doc_id
    WHERE ROUND(CAST(shared AS DOUBLE)
                / LEAST(sa.n_sh, sb.n_sh), 6) >= 0.1
    ORDER BY id_a, id_b
    """,
    doc="ASYMMETRIC containment dedup (shared/min(|A|,|B|) = max of the two "
    "directional containments) over pruned 3-shingle sets: catches "
    "quote/subset duplication — a short doc embedded verbatim in a longer "
    "one scores containment 1.0 while its Jaccard is near zero, so "
    "symmetric-Jaccard dedup provably misses it (this corpus has 4 such "
    "fully-contained pairs at sf0.01 that dedup_ngram_jaccard's 0.01 "
    "threshold never surfaces as dups). Same inverted-index + "
    "hot-shingle-cap join shape as the Jaccard twin — join mass is "
    "sum_g f_g^2, never |A|x|B|.",
)
def dedup_containment(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return D.shingle_jaccard_pairs(
        docs, "lang", threshold=0.1, max_df_frac=0.02, metric="containment"
    )


@register(
    "dedup_simhash",
    f"""
    SELECT doc_id, {D.simhash_sql('text', 16)} AS simhash
    FROM documents
    ORDER BY doc_id
    """,
    doc="SimHash 16-bit signatures (md5 bit votes over the distinct-token "
    "set); Hamming pairing (operators.dedup.hamming_pairs, prefix-blocked) "
    "is unit-tested with planted dups rather than registered here: on this "
    "31-word-vocab corpus nearly every doc pair is a true near-dup, so the "
    "pair set itself is O(n^2) — correct, but not a scalable bench output",
)
def dedup_simhash(spark, sf_dir):
    docs = spread(spark.read.parquet(table_path(sf_dir, "documents")))
    return D.with_simhash(docs, bits=16).select("doc_id", "simhash")


@register(
    "dedup_embedding_cosine",
    """
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 512
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))),
             4) AS cosine
    FROM s a JOIN s b ON a.vec_id < b.vec_id
    WHERE ROUND(
            list_dot_product(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                     CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])))),
            4) >= 0.4
    ORDER BY id_a, id_b
    """,
    doc="embedding-cosine near-dup pairs, exact all-pairs baseline on a "
    "FIXED-N sample (512 by md5(vec_id) order, the exact_n_sample "
    "discipline; threshold 0.4, non-vacuous on this corpus): double-cast "
    "dot products so both engines accumulate identically. Fixed N makes "
    "the quadratic term a CONSTANT (~131k pairs at any corpus size, one "
    "TakeOrdered scan to draw) — the earlier 1-in-4 modulus slice only "
    "divided it by 16, still quadratic at scale (r9, consistency with "
    "the knn eval pair). The UNCAPPED exact operator stays available as "
    "operators.similarity.cosine_pairs for unit-scale verification; "
    "corpus-scale pair mining uses dedup_embedding_lsh, which never "
    "forms all pairs",
)
def dedup_embedding_cosine(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import cosine_pairs

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    # localCheckpoint: cosine_pairs self-joins the sample, and without it
    # each side re-runs the corpus-wide TakeOrdered draw (r9 watch item)
    picked = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(512)
        .localCheckpoint()
    )
    return cosine_pairs(picked, threshold=0.4)


def _embedding_lsh_sql() -> str:
    from newyork_taxi_etl_spark.queries.similarity import bands_sql

    cos = (
        "ROUND(list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(ea.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[])))), 4)"
    )
    return f"""
    WITH k AS (
      {bands_sql('vec_id')}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM k a JOIN k b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    )
    SELECT cand.id_a, cand.id_b, {cos} AS cosine
    FROM cand JOIN embeddings ea ON cand.id_a = ea.vec_id
              JOIN embeddings eb ON cand.id_b = eb.vec_id
    WHERE {cos} >= 0.4
    """


@register(
    "dedup_embedding_lsh",
    _embedding_lsh_sql(),
    doc="embedding near-dup pairs via multi-band sign-LSH (12 bands x 4 "
    "bits, OR-construction): a pair becomes a candidate if ANY band agrees "
    "on all 4 sign bits, DISTINCT collapses multi-band hits before the "
    "cosine so each pair is scored once — the corpus-scale companion to "
    "dedup_embedding_cosine's exact baseline, sharing LSH_BANDS with the "
    "ANN path whose recall ann_recall_at_k gates (0.86 vs the single-band "
    "0.14 this replaces)",
)
def dedup_embedding_lsh(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import (
        cosine_pairs_lsh_multiband_blas,
    )
    from newyork_taxi_etl_spark.queries.similarity import LSH_BANDS

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    # BLAS bucket scorer: identical results to the expression path
    # (asserted in tests/test_similarity_params.py), measured 3x faster
    return cosine_pairs_lsh_multiband_blas(emb, threshold=0.4, bands=LSH_BANDS)


@register(
    "dedup_edit_distance",
    """
    WITH p AS (
      SELECT doc_id,
             substr(text, 1, 24) AS head,
             string_split(text, ' ')[1] || ' ' || string_split(text, ' ')[2]
               AS blk
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.head, b.head) AS edit_dist
    FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 6
    ORDER BY id_a, id_b
    """,
    doc="edit-distance near-dup pairs (the Levenshtein family, completing "
    "exact/MinHash/SimHash/Jaccard/embedding): O(len^2)-per-pair DP cost "
    "is contained two ways — candidates meet only inside a 2-token prefix "
    "block (equi-join, never all-pairs) and the distance runs on a fixed "
    "24-char head, not the full document. Both engines implement classic "
    "Levenshtein, so the pair set is value-checked exactly",
)
def dedup_edit_distance(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    # NULL-propagating concat to match the oracle's `||`: a single-token doc
    # gets a NULL block key and never equi-joins, in BOTH engines (concat_ws
    # would skip the NULL and let 'tok' join in Spark only).
    p = docs.select(
        "doc_id",
        F.substring("text", 1, 24).alias("head"),
        F.concat(
            F.element_at(toks, 1), F.lit(" "), F.element_at(toks, 2)
        ).alias("blk"),
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 6)
    )


def _minhash_gate_sql(k: int = 16) -> str:
    sig_cols = ",\n             ".join(
        f"{minhash_sql(_SH, s)} AS mh_{s}" for s in range(k)
    )
    matches = " + ".join(
        f"CASE WHEN a.mh_{s} = b.mh_{s} THEN 1 ELSE 0 END" for s in range(k)
    )
    return f"""
    WITH sigs AS (
      SELECT doc_id, list_distinct({_SH}) AS s,
             {sig_cols}
      FROM documents WHERE doc_id < 60
    ),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sigs),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.g = b.g
      WHERE a.doc_id < 20 AND b.doc_id >= 20
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COALESCE(sh.n_shared, 0) AS DOUBLE)
               / (len(a.s) + len(b.s) - COALESCE(sh.n_shared, 0)) AS jac,
             ({matches}) / {k}.0 AS est
      FROM sigs a JOIN sigs b ON a.doc_id < 20 AND b.doc_id >= 20
      LEFT JOIN shared sh ON sh.id_a = a.doc_id AND sh.id_b = b.doc_id
    )
    SELECT COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(CAST(ROUND(abs(est - jac), 12)
                               AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_abs_err,
           ROUND(MAX(ROUND(abs(est - jac), 12)), 6) AS max_abs_err
    FROM pairs
    """


@register(
    "minhash_jaccard_gate",
    _minhash_gate_sql(),
    doc="MinHash QUALITY gate (companion to ann_recall_at_k): estimated "
    "Jaccard (16 md5 signatures, match fraction) vs EXACT 3-shingle "
    "Jaccard over an 800-pair grid, reporting mean/max absolute error as "
    "driver-gated values. Exact side is an inverted-index shared-shingle "
    "join (no list_intersect dependency, same both engines); error "
    "aggregation is decimal-exact so the mean is order-independent. This "
    "is the number that justifies the signature count k in "
    "dedup_minhash_lsh: E[err] ~ sqrt(j(1-j)/k)",
)
def minhash_jaccard_gate(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.text import minhash_expr, with_shingles

    k = 16
    docs = (
        spark.read.parquet(table_path(sf_dir, "documents"))
        .filter(F.col("doc_id") < 60)
    )
    sh = with_shingles(docs, "text", 3, "sh").select(
        "doc_id", F.array_distinct("sh").alias("s")
    )
    sigs = sh
    for s in range(k):
        sigs = sigs.withColumn(f"mh_{s}", minhash_expr("s", s))
    a = sigs.filter(F.col("doc_id") < 20)
    b = sigs.filter(F.col("doc_id") >= 20)
    inv = sh.select("doc_id", F.explode("s").alias("g"))
    shared = (
        inv.filter(F.col("doc_id") < 20)
        .alias("ia")
        .join(
            inv.filter(F.col("doc_id") >= 20).alias("ib"),
            F.col("ia.g") == F.col("ib.g"),
        )
        .groupBy(
            F.col("ia.doc_id").alias("id_a"), F.col("ib.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    matches = None
    for s in range(k):
        m = F.when(F.col(f"a.mh_{s}") == F.col(f"b.mh_{s}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    pairs = (
        a.alias("a")
        .crossJoin(b.alias("b"))
        .join(
            shared.alias("sh"),
            (F.col("a.doc_id") == F.col("sh.id_a"))
            & (F.col("b.doc_id") == F.col("sh.id_b")),
            "left",
        )
        .select(
            (
                F.coalesce(F.col("n_shared"), F.lit(0)).cast("double")
                / (
                    F.size("a.s")
                    + F.size("b.s")
                    - F.coalesce(F.col("n_shared"), F.lit(0))
                )
            ).alias("jac"),
            (matches / F.lit(float(k))).alias("est"),
        )
    )
    err = F.round(F.abs(F.col("est") - F.col("jac")), 12)
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(err.cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_abs_err"),
        F.round(F.max(err), 6).alias("max_abs_err"),
    )


_CSH = shingles_sql("ctext", 3)

_PASSAGE_LSH_SQL = f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    tok AS (
      SELECT doc_id, t.i AS pos, toks[t.i] AS tok,
             CASE WHEN ('0x' || substr(md5(toks[t.i]), 1, 4))::BIGINT
                       % 8 = 0
                  THEN 1 ELSE 0 END AS b
      FROM d, unnest(range(1, len(toks) + 1)) t(i)
    ),
    seg AS (
      SELECT doc_id, pos, tok,
             SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS sid
      FROM tok
    ),
    chunks AS (
      SELECT doc_id * 1000 + sid AS chunk_id, doc_id,
             string_agg(tok, ' ' ORDER BY pos) AS ctext
      FROM seg GROUP BY doc_id, sid
      HAVING COUNT(*) >= 5
    ),
    csh AS MATERIALIZED (
      SELECT chunk_id, doc_id, list_distinct({_CSH}) AS s
      FROM chunks
      WHERE len(list_distinct({_CSH})) > 0
    ),
    sigs AS (
      SELECT chunk_id, doc_id,
             {minhash_sql('s', 0)} AS mh_0,
             {minhash_sql('s', 1)} AS mh_1,
             {minhash_sql('s', 2)} AS mh_2,
             {minhash_sql('s', 3)} AS mh_3
      FROM csh
    ),
    bands AS (
      SELECT chunk_id, doc_id, 0 AS band_idx,
             md5(concat(mh_0, '|', mh_1)) AS band_hash FROM sigs
      UNION ALL
      SELECT chunk_id, doc_id, 1 AS band_idx,
             md5(concat(mh_2, '|', mh_3)) AS band_hash FROM sigs
    ),
    hot AS (
      SELECT band_idx, band_hash FROM bands
      GROUP BY band_idx, band_hash HAVING COUNT(*) > 64
    ),
    capped AS (
      SELECT * FROM bands b0
      WHERE NOT EXISTS (SELECT 1 FROM hot h
                        WHERE h.band_idx = b0.band_idx
                          AND h.band_hash = b0.band_hash)
    ),
    cand AS (
      SELECT DISTINCT a.chunk_id AS ca, b.chunk_id AS cb
      FROM capped a JOIN capped b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
             ROUND(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / (len(sa.s) + len(sb.s)
                      - len(list_intersect(sa.s, sb.s))), 6) AS j
      FROM cand JOIN csh sa ON cand.ca = sa.chunk_id
                JOIN csh sb ON cand.cb = sb.chunk_id
    )
    SELECT id_a, id_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_chunks,
           MAX(j) AS max_jaccard
    FROM scored
    WHERE j >= 0.8
    GROUP BY id_a, id_b
    ORDER BY id_a, id_b
"""


@register(
    "dedup_passage_lsh",
    _PASSAGE_LSH_SQL,
    doc="PASSAGE-level near-dedup (r8 verdict item 5 — passage chunking "
    "composed with the MinHash-LSH machinery), with CONTENT-DEFINED "
    "chunk boundaries: a token opens a new segment when "
    "int(md5(token)[:4],16) % 8 == 0 (the rsync/CDC discipline), so a "
    "boilerplate section shared at DIFFERENT offsets still segments "
    "identically — the failure mode of fixed-grid windows, whose chunk "
    "grids misalign across documents. Segments under 5 tokens are "
    "dropped (tiny repeated spans are vocabulary, not boilerplate); "
    "each survivor gets 4 md5-family MinHash signatures over distinct "
    "3-gram shingles, banded 2x2 with the >64 hot-bucket cap, and "
    "cross-doc segment pairs from shared buckets are gated at exact "
    "shingle-Jaccard >= 0.8. Output per doc pair: duplicated-segment "
    "count + max segment jaccard. Catches shared-section dups that "
    "doc-level dedup provably misses (planted-section test with "
    "deliberately misaligned offsets in tests/test_dedup.py); on this "
    "corpus the output records the planted exact-dup docs plus the "
    "small-vocab corpus's genuinely repeated long spans. Scale shape: "
    "per-doc windows only (segment numbering partitions by doc_id), "
    "join mass banded-bucket-capped, never |segments|^2.",
)
def dedup_passage_lsh(spark, sf_dir):
    docs = spread(spark.read.parquet(table_path(sf_dir, "documents")))
    return D.passage_dup_pairs(
        docs, boundary_mod=8, min_tokens=5, threshold=0.8, max_band_size=64
    )


@register(
    "source_overlap_matrix",
    """
    WITH fp AS (
      SELECT md5(lower(trim(text))) AS h, source, doc_id FROM documents
    ),
    per_src AS (
      SELECT h, source, COUNT(*) AS n_copies FROM fp GROUP BY h, source
    ),
    cross_pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fingerprints,
             CAST(SUM(a.n_copies * b.n_copies) AS BIGINT) AS dup_doc_pairs
      FROM per_src a JOIN per_src b
        ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    within AS (
      SELECT source AS src_a, source AS src_b,
             CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_fingerprints,
             CAST(SUM(n_copies * (n_copies - 1) / 2) AS BIGINT)
               AS dup_doc_pairs
      FROM per_src GROUP BY source
    )
    SELECT * FROM cross_pairs
    UNION ALL
    SELECT * FROM within
    ORDER BY src_a, src_b
    """,
    doc="INTER-SOURCE REDUNDANCY MATRIX (the data-ablation bookkeeping a "
    "multi-source training mix needs: how much of source A already "
    "lives in source B decides what deduplicating the union actually "
    "removes from each): exact content fingerprints grouped per "
    "(hash, source), then source-pair overlap as shared fingerprint "
    "counts AND total duplicate doc pairs (copies multiply), with the "
    "diagonal rows carrying each source's internal duplication "
    "(n_copies-choose-2). Join mass is bounded by fingerprint "
    "multiplicity across sources — the self-join runs on the per-"
    "(hash, source) AGGREGATE, never on documents. One corpus pass, "
    "O(distinct-hash x sources) afterwards.",
)
def source_overlap_matrix(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    per_src = (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("h"), "source"
        )
        .groupBy("h", "source")
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .localCheckpoint(eager=True)  # both self-join sides + diagonal
    )
    a, b = per_src.alias("a"), per_src.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_fingerprints"),
            F.sum(F.col("a.n_copies") * F.col("b.n_copies"))
            .cast("bigint")
            .alias("dup_doc_pairs"),
        )
    )
    within = per_src.groupBy(F.col("source").alias("src_a")).agg(
        F.sum((F.col("n_copies") > 1).cast("int"))
        .cast("bigint")
        .alias("shared_fingerprints"),
        F.sum(F.col("n_copies") * (F.col("n_copies") - 1) / 2)
        .cast("bigint")
        .alias("dup_doc_pairs"),
    ).select(
        "src_a",
        F.col("src_a").alias("src_b"),
        "shared_fingerprints",
        "dup_doc_pairs",
    )
    return cross.unionByName(within).orderBy("src_a", "src_b")


@register(
    "hll_overlap_sketch_matrix",
    """
    WITH fp AS (
      SELECT DISTINCT md5(lower(trim(text))) AS h, source FROM documents
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY source
    ),
    shared AS (
      SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS ns
      FROM fp a JOIN fp b ON a.h = b.h AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT p1.source AS src_a, p2.source AS src_b,
           p1.n AS exact_a, p2.n AS exact_b,
           COALESCE(s.ns, 0) AS exact_shared,
           true AS union_within_5pct,
           true AS inter_within_5pct
    FROM per p1 JOIN per p2 ON p1.source < p2.source
    LEFT JOIN shared s ON s.sa = p1.source AND s.sb = p2.source
    ORDER BY src_a, src_b
    """,
    doc="SKETCH twin of source_overlap_matrix — the 100 TB shape for "
    "pairwise source overlap: per-source DataSketches HLL sketches "
    "over content fingerprints (one corpus pass, O(sources x 2^lgK) "
    "bytes of state), pairwise union cardinality by register-wise "
    "sketch union, intersection by inclusion-exclusion "
    "(|A|+|B|-|A u B|). The exact matrix joins per-(hash, source) "
    "aggregates — fine when shared mass is small, but its join mass "
    "grows with cross-source duplication; the sketch path is "
    "duplication-independent and mergeable across any executor "
    "topology. Both sketch estimates are self-asserted within 5% of "
    "the exact answer IN THE SAME ROW (the profile_distinct_approx "
    "discipline — the booleans are driver-gated against DuckDB's "
    "exact counts); the inclusion-exclusion bound is relative to the "
    "pair's exact UNION size, the quantity HLL error actually scales "
    "with (intersection-relative error is unbounded for small "
    "overlaps — documented, not asserted).",
)
def hll_overlap_sketch_matrix(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    fp = docs.select(
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"), "source"
    ).distinct()
    per = (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.hll_sketch_agg("h").alias("sk"),
        )
        .localCheckpoint(eager=True)  # both pair sides
    )
    shared = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("sa"), F.col("b.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    )
    p1, p2 = per.alias("p1"), per.alias("p2")
    pairs = (
        p1.join(p2, F.col("p1.source") < F.col("p2.source"))
        .join(
            shared,
            (F.col("p1.source") == F.col("sa"))
            & (F.col("p2.source") == F.col("sb")),
            "left",
        )
        .select(
            F.col("p1.source").alias("src_a"),
            F.col("p2.source").alias("src_b"),
            F.col("p1.n").alias("exact_a"),
            F.col("p2.n").alias("exact_b"),
            F.coalesce(F.col("ns"), F.lit(0)).cast("bigint")
            .alias("exact_shared"),
            F.hll_sketch_estimate(
                F.hll_union(F.col("p1.sk"), F.col("p2.sk"))
            ).alias("est_union"),
            F.hll_sketch_estimate(F.col("p1.sk")).alias("est_a"),
            F.hll_sketch_estimate(F.col("p2.sk")).alias("est_b"),
        )
    )
    exact_union = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_shared")
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return pairs.select(
        "src_a",
        "src_b",
        "exact_a",
        "exact_b",
        "exact_shared",
        (F.abs(F.col("est_union") - exact_union) <= 0.05 * exact_union)
        .alias("union_within_5pct"),
        (F.abs(est_inter - F.col("exact_shared")) <= 0.05 * exact_union)
        .alias("inter_within_5pct"),
    ).orderBy("src_a", "src_b")


_SH8 = shingles_sql("text", 8)


@register(
    "dedup_exact_substring",
    f"""
    WITH shl AS (
      SELECT doc_id, {_SH8} AS s FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(s) AS g, generate_subscripts(s, 1) AS pos
      FROM shl
    ),
    hot AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) > 64),
    pruned AS (SELECT sh.* FROM sh ANTI JOIN hot USING (g)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
             a.pos - b.pos AS diag
      FROM pruned a JOIN pruned b
        ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT id_a, id_b, diag,
             pos_a - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                        ORDER BY pos_a) AS run_key
      FROM pairs
    ),
    rl AS (
      SELECT id_a, id_b, diag, run_key, COUNT(*) AS n_sh
      FROM runs GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(MAX(n_sh) + 7 AS BIGINT) AS longest_run_tokens,
           CAST(SUM(n_sh) AS BIGINT) AS n_shared_shingles
    FROM rl GROUP BY 1, 2
    HAVING MAX(n_sh) + 7 >= 12
    ORDER BY id_a, id_b
    """,
    doc="EXACT-SUBSTRING dedup (Lee et al. 2022 'Deduplicating Training "
    "Data Makes Language Models Better' §4.1, ExactSubstr) — verbatim "
    ">=12-token spans shared across documents, the dedup family the "
    "Jaccard/containment/MinHash set statistics cannot see: a verbatim "
    "quote at ANY offset pair surfaces with its exact token length, "
    "while a scrambled doc with the identical token multiset (Jaccard "
    "1.0 on unigrams) produces NO diagonal run. Relational suffix-run "
    "recovery: positional 8-gram shingles, occurrence-capped (>64) "
    "inverted index, pair join keeping both positions, maximal runs "
    "per (pair, pos_a - pos_b diagonal) via islands-and-gaps. Scale: "
    "join mass capped at 64^2 per gram; the run window is bounded by "
    "one PAIR's matches, never the corpus; everything else is "
    "projections + map-side-combinable aggregates.",
)
def dedup_exact_substring(spark, sf_dir):
    return (
        D.exact_substring_runs_from(
            _diag_runs_cached(spark, sf_dir), k=8, min_tokens=12
        )
        .orderBy("id_a", "id_b")
    )


def _diag_runs_cached(spark, sf_dir):
    """The ExactSubstr family's shared diagonal-run table through the
    per-process stage cache (r16, guide §2.4): dedup_exact_substring and
    dedup_substring_strip each re-ran the identical positional shingle
    index + capped pair-diagonal join; the folded run table (one row per
    maximal shared run, all bigints) is tiny and both finishers are
    order-independent."""
    from newyork_taxi_etl_spark.stagecache import cached_df

    def build():
        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        return D.substring_diag_runs(docs, k=8, max_occ=64)

    return cached_df(
        spark, f"substring_diag_runs_k8c64:{sf_dir}", build, n_files=1
    )


@register(
    "dedup_substring_strip",
    f"""
    WITH shl AS (
      SELECT doc_id, {_SH8} AS s FROM documents
    ),
    sh AS (
      SELECT doc_id, unnest(s) AS g, generate_subscripts(s, 1) AS pos
      FROM shl
    ),
    hot AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) > 64),
    pruned AS (SELECT sh.* FROM sh ANTI JOIN hot USING (g)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.pos AS pos_b,
             a.pos - b.pos AS diag
      FROM pruned a JOIN pruned b
        ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    marked AS (
      SELECT id_a, id_b, diag,
             pos_b - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                        ORDER BY pos_b) AS run_key,
             pos_b
      FROM pairs
    ),
    runs AS (
      SELECT id_b, MIN(pos_b) AS s, MAX(pos_b) + 7 AS e
      FROM marked GROUP BY id_a, id_b, diag, run_key
      HAVING MAX(pos_b) + 7 - MIN(pos_b) + 1 >= 12
    ),
    flagged AS (
      SELECT id_b, s, e,
             CASE WHEN MAX(e) OVER (PARTITION BY id_b ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
                   OR s > MAX(e) OVER (PARTITION BY id_b ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM runs
    ),
    islands AS (
      SELECT id_b, s, e,
             SUM(new_island) OVER (PARTITION BY id_b ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    merged AS (
      SELECT id_b, island, MIN(s) AS s, MAX(e) AS e
      FROM islands GROUP BY id_b, island
    ),
    ledger AS (
      SELECT id_b AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s + 1) AS BIGINT) AS tokens_removed
      FROM merged GROUP BY id_b
    ),
    langtok AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS lang_tokens
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           CAST(COUNT(l.doc_id) AS BIGINT) AS docs_affected,
           CAST(COALESCE(SUM(l.n_spans), 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(SUM(l.tokens_removed), 0) AS BIGINT)
             AS tokens_removed,
           ANY_VALUE(t.lang_tokens) AS lang_tokens,
           ROUND(CAST(COALESCE(SUM(l.tokens_removed), 0) AS DOUBLE)
                 / ANY_VALUE(t.lang_tokens), 6) AS frac_removed
    FROM documents d
    LEFT JOIN ledger l ON d.doc_id = l.doc_id
    JOIN langtok t ON d.lang = t.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    doc="the DELETE step of ExactSubstr dedup (Lee et al. 2022 remove the "
    "duplicated SPAN, not the document): every verbatim >=12-token run "
    "marks its token interval in the HIGHER-id doc of the pair (first "
    "occurrence wins — the exact-dedup keeper rule at span "
    "granularity), per-doc intervals union via the classic "
    "merge-overlapping-intervals fold (a window bounded by one doc's "
    "span count), and the per-language ledger reports docs affected / "
    "spans / tokens removed / corpus fraction — the number that tells "
    "a pretraining team what ExactSubstr deletion would actually take "
    "out.  Same capped inverted-index shapes as dedup_exact_substring; "
    "nothing corpus-sized anywhere.",
)
def dedup_substring_strip(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    ledger = D.substring_strip_ledger_from(
        _diag_runs_cached(spark, sf_dir), min_tokens=12
    )
    langtok = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias(
            "lang_tokens"
        )
    )
    return (
        docs.select("doc_id", "lang")
        .join(F.broadcast(ledger), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.col("n_spans")).cast("bigint").alias("docs_affected"),
            F.coalesce(F.sum("n_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce(F.sum("tokens_removed"), F.lit(0))
            .cast("bigint")
            .alias("tokens_removed"),
        )
        .join(F.broadcast(langtok), "lang")
        .select(
            "lang",
            "docs_affected",
            "n_spans",
            "tokens_removed",
            "lang_tokens",
            F.round(
                F.col("tokens_removed").cast("double")
                / F.col("lang_tokens"),
                6,
            ).alias("frac_removed"),
        )
        .orderBy("lang")
    )


_SOURCE_MATRIX_SQL = """
    WITH keyed AS (
      SELECT string_split(text, ' ')[1] || ' ' || string_split(text, ' ')[2]
               AS k,
             source
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    c AS (
      SELECT k, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM keyed GROUP BY k, source
    ),
    m AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CASE WHEN a.source = b.source
                  THEN a.n * (a.n - 1) // 2
                  ELSE a.n * b.n END AS mass
      FROM c a JOIN c b
        ON a.k = b.k AND a.source <= b.source
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_keys,
           CAST(SUM(mass) AS BIGINT) AS pair_mass
    FROM m WHERE mass > 0
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """


@register(
    "dedup_source_matrix",
    _SOURCE_MATRIX_SQL,
    doc="CROSS-SOURCE DUPLICATION MATRIX — which sources mirror each "
    "other (the crawl-dedup planning table: a high off-diagonal cell "
    "means two feeds shingle-collide and should dedup TOGETHER; the "
    "diagonal is within-source dup pressure).  Candidate mass under "
    "the 2-token prefix blocking key is computed ALGEBRAICALLY from "
    "per-(key, source) counts — n_a*n_b cross pairs / C(n,2) within — "
    "so no pair is ever enumerated: the join carries sources^2 rows "
    "per key, not group_size^2 (the same counts-not-pairs trick as "
    "linkage's inverted-index mass audit).  Single-token docs (NULL "
    "key) are excluded on both engines.  Scale: one corpus-sized "
    "groupBy to (key, source), then key-equi-joined count algebra.",
)
def dedup_source_matrix(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    keyed = docs.filter(F.size(toks) >= 2).select(
        F.concat(
            F.element_at(toks, 1), F.lit(" "), F.element_at(toks, 2)
        ).alias("k"),
        "source",
    )
    c = keyed.groupBy("k", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = c.select(F.col("k"), F.col("source").alias("source_a"), F.col("n").alias("na"))
    b = c.select(
        F.col("k").alias("kb"), F.col("source").alias("source_b"), F.col("n").alias("nb")
    )
    mass = F.when(
        F.col("source_a") == F.col("source_b"),
        F.expr("na * (na - 1) div 2"),
    ).otherwise(F.col("na") * F.col("nb"))
    m = (
        a.join(b, (F.col("k") == F.col("kb")) & (F.col("source_a") <= F.col("source_b")))
        .select("source_a", "source_b", mass.alias("mass"))
        .filter(F.col("mass") > 0)
    )
    return (
        m.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_keys"),
            F.sum("mass").cast("bigint").alias("pair_mass"),
        )
        .orderBy("source_a", "source_b")
    )


def _semantic_decon_sql() -> str:
    from newyork_taxi_etl_spark.queries.similarity import bands_sql

    cos = (
        "ROUND(list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(ea.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[])))), 4)"
    )
    return f"""
    WITH k AS (
      {bands_sql('vec_id')}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM k a JOIN k b
        ON a.band_idx = b.band_idx AND a.bucket = b.bucket
       AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT cand.id_a, cand.id_b, {cos} AS cosine
      FROM cand JOIN embeddings ea ON cand.id_a = ea.vec_id
                JOIN embeddings eb ON cand.id_b = eb.vec_id
      WHERE {cos} >= 0.4
    ),
    cross_split AS (
      SELECT * FROM scored
      WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
    ),
    base AS (
      SELECT CAST(SUM(CASE WHEN vec_id % 10 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_eval,
             CAST(SUM(CASE WHEN vec_id % 10 = 0 THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_train
      FROM embeddings
    )
    SELECT base.n_eval, base.n_train,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cross_split)
             AS n_cross_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cross_split
             WHERE cosine >= 0.95) AS n_leaked,
           (SELECT MAX(cosine) FROM cross_split) AS max_cross_cosine
    FROM base
    """


@register(
    "semantic_decontamination",
    _semantic_decon_sql(),
    doc="EMBEDDING-SPACE DECONTAMINATION — the semantic twin of "
    "decontamination_exact_substring: does any EVAL document sit "
    "nearly-on-top of a TRAIN document in embedding space (the leak "
    "verbatim matching misses: paraphrases, translations, "
    "re-renderings)?  Split is deterministic (vec_id % 10 = eval), "
    "candidates come from the SAME multi-band sign-LSH index the "
    "dedup/ANN paths share (12 bands x 4 bits, OR-construction, "
    "recall gated by ann_recall_at_k) and only split-CROSSING pairs "
    "are scored; leaked = cosine >= 0.95.  Zero leaks on this corpus "
    "is the correct answer (no planted clones — the pytest plants "
    "one and watches it surface).  Scale: never all-pairs; the "
    "bucket join is the 100 TB path, and the report is one row.",
)
def semantic_decontamination(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.similarity import (
        cosine_pairs_lsh_multiband_blas,
    )
    from newyork_taxi_etl_spark.queries.similarity import LSH_BANDS

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    pairs = cosine_pairs_lsh_multiband_blas(
        emb, threshold=0.4, bands=LSH_BANDS
    )
    is_eval_a = F.col("id_a") % 10 == 0
    is_eval_b = F.col("id_b") % 10 == 0
    cross = pairs.filter(is_eval_a != is_eval_b)
    agg = cross.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cross_candidates"),
        F.sum(F.when(F.col("cosine") >= 0.95, 1).otherwise(0))
        .cast("bigint")
        .alias("n_leaked"),
        F.max("cosine").alias("max_cross_cosine"),
    )
    base = emb.agg(
        F.sum(F.when(F.col("vec_id") % 10 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_eval"),
        F.sum(F.when(F.col("vec_id") % 10 == 0, 0).otherwise(1))
        .cast("bigint")
        .alias("n_train"),
    )
    return base.crossJoin(agg).select(
        "n_eval",
        "n_train",
        "n_cross_candidates",
        "n_leaked",
        "max_cross_cosine",
    )


_BLOOM_M = 65536
_BLOOM_K = 3


_BLOOM_SQL = f"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS norm FROM documents
    ),
    pos AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substring(md5(concat(CAST(i.i AS VARCHAR), '|',
                                                norm)), 1, 8)) AS BIGINT)
               % {_BLOOM_M} AS p
      FROM d, range({_BLOOM_K}) i(i)
    ),
    first_setter AS (
      SELECT p, MIN(doc_id) AS first_id FROM pos GROUP BY p
    ),
    cov AS (
      SELECT pos.doc_id,
             MIN(CASE WHEN fs.first_id < pos.doc_id THEN 1 ELSE 0 END)
               AS all_covered
      FROM pos JOIN first_setter fs ON fs.p = pos.p
      GROUP BY pos.doc_id
    ),
    dup AS (
      SELECT d.doc_id,
             CASE WHEN MIN(d2.first_norm_id) < d.doc_id
                  THEN 1 ELSE 0 END AS is_dup
      FROM d JOIN (SELECT norm, MIN(doc_id) AS first_norm_id
                   FROM d GROUP BY norm) d2 ON d2.norm = d.norm
      GROUP BY d.doc_id
    ),
    flags AS (
      SELECT c.doc_id, c.all_covered AS flagged, du.is_dup
      FROM cov c JOIN dup du ON du.doc_id = c.doc_id
    ),
    bits AS (SELECT CAST(COUNT(DISTINCT p) AS BIGINT) AS n_bits FROM pos),
    norms AS (SELECT CAST(COUNT(DISTINCT norm) AS BIGINT) AS n_norms FROM d)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_true_dup,
           CAST(SUM(flagged) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN flagged = 1 AND is_dup = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           ROUND(SUM(CASE WHEN flagged = 1 AND is_dup = 0 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) - SUM(is_dup) AS DOUBLE), 6) AS fp_rate,
           MAX(bits.n_bits) AS n_bits_set,
           ROUND(MAX(bits.n_bits) / CAST({_BLOOM_M} AS DOUBLE), 6)
             AS fill_frac,
           MAX(norms.n_norms) AS n_norms_audit
    FROM flags, bits, norms
    """


@register(
    "dedup_bloom_gate",
    _BLOOM_SQL,
    doc="BLOOM-FILTER DEDUP GATE — the bounded-memory incremental "
    "exact-dedup shape a 100 TB ingest runs (the filter rides in RAM "
    "while the corpus streams past), and the one sketch class the "
    "registry lacked beside CMS / FM / AMS / HLL: k=3 md5-derived bit "
    "positions in an m=65536 filter, a doc flags as 'seen' iff EVERY "
    "one of its bits was already set by a LOWER-doc_id doc.  "
    "Relational formulation with no sequential state: bit b is set "
    "before doc d iff min(doc_id) over b's setters < d — one groupBy "
    "on position + one on normalized text, both shuffle-bounded.  "
    "Reports the honest sketch ledger: true duplicates (exact-match "
    "ground truth), flagged count, FALSE POSITIVES and fp_rate "
    "(fill-dependent — fp ~ fill^k), bits set / fill fraction, and "
    "n_norms_audit — the size of the O(distinct) ground-truth table, "
    "reported beside the O(m)-bounded bit state to keep the deployable "
    "state / audit sidecar split visible.  The Bloom guarantee (zero "
    "false NEGATIVES: a true dup's bits were all set by its earlier "
    "copy) holds by construction and is pytested with planted copies.",
)
def dedup_bloom_gate(spark, sf_dir):
    docs = spread(spark.read.parquet(table_path(sf_dir, "documents")))
    d = docs.select("doc_id", F.lower(F.trim(F.col("text"))).alias("norm"))
    pos = (
        d.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit(f"{i}|"), F.col("norm")
                                        )
                                    ),
                                    1,
                                    8,
                                ),
                                16,
                                10,
                            ).cast("bigint"),
                            F.lit(_BLOOM_M),
                        )
                        for i in range(_BLOOM_K)
                    ]
                )
            ).alias("p"),
        )
        .distinct()
    )
    first_setter = pos.groupBy("p").agg(F.min("doc_id").alias("first_id"))
    cov = (
        pos.join(first_setter, "p")
        .groupBy("doc_id")
        .agg(
            F.min(
                (F.col("first_id") < F.col("doc_id")).cast("int")
            ).alias("flagged")
        )
    )
    first_norm = d.groupBy("norm").agg(F.min("doc_id").alias("first_norm_id"))
    dup = d.join(first_norm, "norm").select(
        "doc_id",
        (F.col("first_norm_id") < F.col("doc_id")).cast("int").alias("is_dup"),
    )
    flags = cov.join(dup, "doc_id")
    bits = pos.agg(
        F.countDistinct("p").cast("bigint").alias("n_bits")
    )
    norms = d.agg(
        F.countDistinct("norm").cast("bigint").alias("n_norms")
    )
    n = F.count(F.lit(1))
    fp = F.sum(
        ((F.col("flagged") == 1) & (F.col("is_dup") == 0)).cast("int")
    )
    return (
        flags.agg(
            n.cast("bigint").alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_true_dup"),
            F.sum("flagged").cast("bigint").alias("n_flagged"),
            fp.cast("bigint").alias("n_false_pos"),
            F.round(
                fp.cast("double") / (n - F.sum("is_dup")), 6
            ).alias("fp_rate"),
        )
        .crossJoin(F.broadcast(bits))
        .crossJoin(F.broadcast(norms))
        .select(
            "n_docs",
            "n_true_dup",
            "n_flagged",
            "n_false_pos",
            "fp_rate",
            F.col("n_bits").alias("n_bits_set"),
            F.round(
                F.col("n_bits") / F.lit(float(_BLOOM_M)), 6
            ).alias("fill_frac"),
            F.col("n_norms").alias("n_norms_audit"),
        )
    )


@register(
    "streaming_bloom_gate_ingest",
    _BLOOM_SQL,
    doc="BLOOM-GATE DEDUP AT INGEST — the twelfth per-batch fold, and "
    "the deployment shape the Bloom filter exists for: the bit state "
    "(per position, lowest setter doc_id — the exact relational image "
    "of the bit array) and the normalized-text first-seen table ride "
    "as bounded state while documents stream in doc_id-contiguous "
    "micro-batches; each batch flags its docs against bits set by "
    "EARLIER docs (prior state + lower-id docs in the same batch), "
    "folds its own bits in, and commits state + decisions + replay "
    "watermark in ONE atomic swap-generation rename.  The drained "
    "ledger (true dups, flagged, false positives, fill) equals "
    "dedup_bloom_gate BIT-FOR-BIT — the oracle IS the batch gate's "
    "SQL, and 2-vs-5-slice equality is pytested.  DEPLOYABLE state is "
    "the O(m)-bounded bit table alone; the norms first-seen table is "
    "the AUDIT SIDECAR (O(distinct norms), exists only to ground-truth "
    "false positives) and the ledger reports both sizes side by side "
    "(n_bits_set vs n_norms_audit) so the split stays visible.  Per "
    "batch nothing shuffles but the batch's own positions.",
)
def streaming_bloom_gate_ingest(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from newyork_taxi_etl_spark.streaming import windows as W

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    work = tempfile.mkdtemp(prefix="nyetl_bloomingest_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    # the fold interpolates its actual n_slices into the stage key
    return W.run_streaming_bloom_ingest(
        spark, docs, work, cache_key=f"documents_bloom:{sf_dir}"
    )
