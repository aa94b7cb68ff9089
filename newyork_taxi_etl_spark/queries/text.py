"""Text-analysis queries over the ``documents`` table (training-data-
pipeline surface: quality scoring, token counting, language ID,
fingerprinting — BASELINE.json north star).

All pure built-in expressions (no UDFs); every query value-checked against
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from newyork_taxi_etl_spark.functions.exact import dec_out_sql
from newyork_taxi_etl_spark.functions.text import (
    marker_count,
    marker_count_sql,
    minhash_expr,
    minhash_sql,
    shingles_sql,
    with_shingles,
)
from newyork_taxi_etl_spark.registry import register
from newyork_taxi_etl_spark.session import spread
from newyork_taxi_etl_spark.sources.readers import table_path

_TOKS_SQL = "string_split(text, ' ')"

#: language-ID marker tokens (engine-side heuristic; the synthetic corpus
#: draws from a ~31-word vocabulary, so markers are picked from it)
MARKERS = [("en", "the"), ("de", "scan"), ("es", "join"), ("fr", "group")]


@register(
    "text_stats",
    f"""
    SELECT doc_id,
           len({_TOKS_SQL}) AS n_tokens,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len({_TOKS_SQL}), 4) AS avg_token_len,
           ROUND(CAST(len(list_distinct({_TOKS_SQL})) AS DOUBLE)
                 / len({_TOKS_SQL}), 4) AS type_token_ratio,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    ORDER BY doc_id
    """,
    doc="quality-scoring stats per document: token count, mean token length, "
    "type-token ratio — single narrow projection, no shuffle",
)
def text_stats(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    return (
        df.select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.round(
                F.length(F.regexp_replace("text", " ", "")).cast("double")
                / F.size(toks),
                4,
            ).alias("avg_token_len"),
            F.round(
                F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4
            ).alias("type_token_ratio"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
    )


@register(
    "text_quality_score",
    f"""
    SELECT doc_id,
           ROUND(
             0.4 * LEAST(len({_TOKS_SQL}) / 50.0, 1.0)
             + 0.4 * (CAST(len(list_distinct({_TOKS_SQL})) AS DOUBLE)
                      / len({_TOKS_SQL}))
             + 0.2 * (CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1.0 ELSE 0.0 END),
             4) AS quality,
           CASE WHEN len({_TOKS_SQL}) >= 30
                 AND CAST(len(list_distinct({_TOKS_SQL})) AS DOUBLE)
                     / len({_TOKS_SQL}) >= 0.2
                THEN 'keep' ELSE 'drop' END AS quality_gate
    FROM documents
    ORDER BY doc_id
    """,
    doc="composite quality score + keep/drop gate (length, lexical "
    "diversity, size window) — the doc-filtering stage of an LLM data "
    "pipeline",
)
def text_quality_score(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    quality = F.round(
        0.4 * F.least(F.size(toks) / 50.0, F.lit(1.0))
        + 0.4 * ttr
        + 0.2 * F.when(F.col("n_chars").between(100, 400), 1.0).otherwise(0.0),
        4,
    )
    gate = F.when((F.size(toks) >= 30) & (ttr >= 0.2), "keep").otherwise("drop")
    return df.select(
        "doc_id", quality.alias("quality"), gate.alias("quality_gate")
    )


@register(
    "text_token_count",
    f"""
    SELECT doc_id,
           len({_TOKS_SQL}) AS ws_tokens,
           CAST(list_sum(list_transform({_TOKS_SQL},
                w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)
             AS bpe_ish_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="token counting: whitespace tokens + BPE-ish subword estimate "
    "(ceil(len/4) pieces per word)",
)
def text_token_count(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.expr(
            "CAST(aggregate(transform(split(text, ' '), "
            "w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), "
            "0L, (acc, x) -> acc + x) AS BIGINT)"
        ).alias("bpe_ish_tokens"),
    )


@register(
    "text_lang_id",
    f"""
    SELECT doc_id, lang AS labeled_lang,
           CASE
             WHEN {marker_count_sql(_TOKS_SQL, 'the')} >= {marker_count_sql(_TOKS_SQL, 'scan')}
              AND {marker_count_sql(_TOKS_SQL, 'the')} >= {marker_count_sql(_TOKS_SQL, 'join')}
              AND {marker_count_sql(_TOKS_SQL, 'the')} >= {marker_count_sql(_TOKS_SQL, 'group')}
               THEN 'en'
             WHEN {marker_count_sql(_TOKS_SQL, 'scan')} >= {marker_count_sql(_TOKS_SQL, 'join')}
              AND {marker_count_sql(_TOKS_SQL, 'scan')} >= {marker_count_sql(_TOKS_SQL, 'group')}
               THEN 'de'
             WHEN {marker_count_sql(_TOKS_SQL, 'join')} >= {marker_count_sql(_TOKS_SQL, 'group')}
               THEN 'es'
             ELSE 'fr'
           END AS predicted_lang
    FROM documents
    ORDER BY doc_id
    """,
    doc="n-gram-heuristic language ID: marker-token counts with a fixed "
    "priority tiebreak (deterministic argmax)",
)
def text_lang_id(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    cnt = {lang: marker_count(toks, w) for lang, w in MARKERS}
    pred = (
        F.when(
            (cnt["en"] >= cnt["de"]) & (cnt["en"] >= cnt["es"]) & (cnt["en"] >= cnt["fr"]),
            "en",
        )
        .when((cnt["de"] >= cnt["es"]) & (cnt["de"] >= cnt["fr"]), "de")
        .when(cnt["es"] >= cnt["fr"], "es")
        .otherwise("fr")
    )
    return df.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5(lower(trim(text))) AS exact_fp,
           {minhash_sql(shingles_sql('text', 3), 0)} AS minhash_0,
           {minhash_sql(shingles_sql('text', 3), 1)} AS minhash_1
    FROM documents
    ORDER BY doc_id
    """,
    doc="document fingerprinting: md5 of normalized text (exact) + two "
    "md5-family MinHash signatures over 3-word shingles",
)
def text_fingerprint(spark, sf_dir):
    df = spread(spark.read.parquet(table_path(sf_dir, "documents")))
    df = with_shingles(df, "text", 3, out="sh")
    return df.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("exact_fp"),
        minhash_expr("sh", 0).alias("minhash_0"),
        minhash_expr("sh", 1).alias("minhash_1"),
    )


@register(
    "text_regex_extract",
    """
    WITH ex AS (
      SELECT regexp_extract(text, '[a-z]{5,}') AS long_word FROM documents
    )
    SELECT long_word, COUNT(*) AS cnt
    FROM ex
    WHERE long_word <> ''
    GROUP BY long_word
    ORDER BY cnt DESC, long_word
    LIMIT 20
    """,
    doc="regex extraction surface: first >=5-letter word per doc "
    "(regexp_extract stays in codegen), top-20 by frequency — "
    "TakeOrderedAndProject, no global sort",
)
def text_regex_extract(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    ex = df.select(
        F.regexp_extract(F.col("text"), "[a-z]{5,}", 0).alias("long_word")
    )
    return (
        ex.filter(F.col("long_word") != "")
        .groupBy("long_word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("long_word"))
        .limit(20)
    )


@register(
    "text_top_ngrams",
    """
    WITH t AS (
      SELECT string_split(lower(text), ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT toks[i] || ' ' || toks[i + 1] AS bigram
      FROM t, unnest(range(1, len(toks))) AS r(i)
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bg
    GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT 20
    """,
    doc="corpus n-gram frequency: tokenize -> adjacent-bigram explode -> "
    "count -> top-20 (ties broken by bigram for determinism). The "
    "vocabulary-analysis primitive of a training-data pipeline; Spark "
    "plans the top-k as partial-agg + TakeOrderedAndProject, so only 20 "
    "rows per partition survive the shuffle",
)
def text_top_ngrams(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = docs.select(F.split(F.lower(F.col("text")), " ").alias("toks"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "bigram")
        .limit(20)
    )


@register(
    "text_pii_redact",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or admin@test.org' AS body
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(body, '[a-z0-9]+@[a-z]+\.[a-z]+'))
             AS n_emails,
           md5(regexp_replace(body, '[a-z0-9]+@[a-z]+\.[a-z]+',
                              '<EMAIL>', 'g')) AS redacted_md5
    FROM aug
    ORDER BY doc_id
    """,
    doc="PII redaction (the pre-training scrub pass): regex email "
    "detection + global replace, digest-checked so the oracle verifies "
    "the exact redacted text. The corpus has no organic emails, so each "
    "doc is deterministically augmented with two synthetic addresses in "
    "BOTH engines — non-vacuous by construction. Pure codegen "
    "(regexp_extract_all/regexp_replace), no UDF, no shuffle before the "
    "presentation sort; pattern kept in the RE2-compatible subset so "
    "Java regex and DuckDB RE2 agree",
)
def text_pii_redact(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    body = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or admin@test.org"),
    )
    pat = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(pat), 0)).alias("n_emails"),
        F.md5(F.regexp_replace(body, pat, "<EMAIL>")).alias("redacted_md5"),
    ).orderBy("doc_id")


@register(
    "zipf_token_slope",
    f"""
    WITH tf AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY 1
    ),
    ranked AS (
      SELECT ROUND(ln(CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)
                           AS DOUBLE)), 12) AS x,
             ROUND(ln(CAST(cnt AS DOUBLE)), 12) AS y
      FROM tf
    ),
    s AS (
      SELECT COUNT(*) AS n,
             {dec_out_sql('SUM(CAST(x AS DECIMAL(38,12)))')} AS sx,
             {dec_out_sql('SUM(CAST(y AS DECIMAL(38,12)))')} AS sy,
             {dec_out_sql('SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12)))')}
               AS sxy,
             {dec_out_sql('SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))')}
               AS sxx
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_tokens,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept
    FROM s
    """,
    doc="Zipf fit over the token frequency distribution: OLS slope of "
    "ln(freq) on ln(rank) — the corpus-statistics diagnostic (natural "
    "text ~ -1; this synthetic corpus is near-uniform, so the measured "
    "slope quantifies HOW synthetic it is). All four OLS sums run through "
    "ROUND(.,12) + DECIMAL(38,12), with the oracle's decimal->double "
    "out-casts VARCHAR-routed (DuckDB's direct cast double-rounds past "
    "~9e3; these sums reach 4-8e4 at sf0.1), so the fit is "
    "order-independent and identical cross-engine; rank ties break by "
    "token. Rank comes from the range-partitioned ordered_positions fold "
    "(operators/profile.py), never an unpartitioned row_number window: "
    "the distinct-token table is 1e8-1e9 rows at 100 TB web text and must "
    "not sort through one task. At 100 TB the token-count aggregate "
    "dominates and is map-side combinable; the fit itself is vocab-sized",
)
def zipf_token_slope(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    tf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # rank = global position in (cnt DESC, tok) — via the range-partitioned
    # ordered_positions fold, NOT row_number over an empty-partition window:
    # at 100 TB web text the distinct-token table is 1e8-1e9 rows (URLs,
    # numbers, typos) and the unpartitioned window would sort it in ONE task
    # (the ccnet_perplexity_buckets lesson; (cnt, tok) is a unique composite
    # key so the position is deterministic).
    ranked = ordered_positions(tf, [("cnt", False), ("tok", True)]).select(
        F.round(F.log(F.col("gpos").cast("double")), 12).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 12).alias("y"),
    )
    dec = "decimal(38,12)"
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast(dec))
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("bigint").alias("n_tokens"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@register(
    "lm_perplexity_score",
    """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    lm AS (
      SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY lang, tok
    ),
    tot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total,
             COUNT(*) AS vocab
      FROM lm GROUP BY lang
    ),
    scored_tok AS (
      SELECT t.doc_id, t.lang,
             ROUND(-ln((lm.cnt + 1)
                       / CAST(tot.total + tot.vocab AS DOUBLE)), 12) AS nll
      FROM toks t
      JOIN lm ON t.lang = lm.lang AND t.tok = lm.tok
      JOIN tot ON t.lang = tot.lang
    ),
    doc_scores AS (
      SELECT doc_id, lang,
             ROUND(CAST(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE) / COUNT(*), 6) AS score
      FROM scored_tok GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(score AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*), 6) AS avg_nll,
           MIN(score) AS min_nll,
           MAX(score) AS max_nll
    FROM doc_scores
    GROUP BY lang
    ORDER BY lang
    """,
    doc="unigram-LM quality scoring (the CCNet/KenLM-style filter of LLM "
    "data pipelines): per-language add-1-smoothed unigram model trained "
    "on the corpus itself, each document scored by its mean token "
    "negative-log-likelihood, per-language score distribution out. "
    "Dataflow: token explode -> (lang, tok) count (map-side combinable), "
    "LM table is lang x vocab (tiny — broadcasts back onto the token "
    "stream), doc scores from one doc-keyed aggregate. Cross-engine "
    "determinism: the probability is an exact rational evaluated with "
    "identical IEEE ops, ln ROUNDed at 12 then decimal-summed with the "
    "VARCHAR-routed out-cast (DuckDB's direct DECIMAL(38,12)->DOUBLE "
    "double-rounds past ~9e3 — the per-lang NLL sum is already 7015 at "
    "sf0.1, so the direct cast was a latent sf1 bug). High-NLL docs are the gibberish a "
    "perplexity filter drops; the synthetic corpus scores nearly "
    "uniform, which the gate records rather than assumes",
)
def lm_perplexity_score(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    lm = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = lm.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    dec = "decimal(38,12)"
    nll = F.round(
        -F.log(
            (F.col("cnt") + 1)
            / (F.col("total") + F.col("vocab")).cast("double")
        ),
        12,
    )
    scored = (
        toks.join(F.broadcast(lm), ["lang", "tok"])
        .join(F.broadcast(tot), "lang")
        .select("doc_id", "lang", nll.alias("nll"))
    )
    doc_scores = scored.groupBy("doc_id", "lang").agg(
        F.round(
            F.sum(F.col("nll").cast(dec)).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("score")
    )
    return (
        doc_scores.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast(dec)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_nll"),
            F.min("score").alias("min_nll"),
            F.max("score").alias("max_nll"),
        )
        .orderBy("lang")
    )


@register(
    "bpe_top_merges",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    pairs AS (
      SELECT substring(tok, r.i, 2) AS pair
      FROM toks, unnest(range(1, len(tok))) AS r(i)
      WHERE len(tok) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 25
    """,
    doc="BPE merge-candidate counting — the inner loop of byte-pair-"
    "encoding tokenizer training: every adjacent character pair inside "
    "every token counted corpus-wide, top candidates by frequency (the "
    "pair a BPE trainer would merge first). Explode is positional "
    "(substring over a range, no UDF); the aggregate is map-side-"
    "combinable and the shuffle carries pair-vocabulary cardinality, "
    "not the character stream — at 100 TB this is exactly how you count "
    "merge candidates without collecting text anywhere. Deterministic "
    "(n DESC, pair) order; one iteration — iterating requires re-"
    "tokenizing against the learned merges, a driver-side loop over "
    "this same aggregate",
)
def bpe_top_merges(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(25)
    )


def _bpe_fold_sql(prev: str, top: str, keep: str = "s.cnt") -> str:
    """DuckDB leftmost-non-overlapping merge of top.(a,b) over prev.syms.

    The accumulator keeps the emitted output as a chr(1)-joined STRING:
    DuckDB 1.0's list_reduce silently fails to thread LIST-typed struct
    members through the fold (scalar members thread fine — verified), so
    the output list is rebuilt by string_split at the end. chr(1) cannot
    occur inside a symbol (symbols are characters of whitespace-split
    ASCII words and their concatenations).  ``keep`` carries extra
    pass-through columns (the apply twin threads lang/cnt).
    """
    return f"""
      SELECT {keep},
        (WITH r AS (SELECT list_reduce(
            list_transform(s.syms, q -> struct_pack(o := '', p := q)),
            (acc, x) -> CASE
              WHEN acc.p = t.a AND x.p = t.b
                THEN struct_pack(o := acc.o || chr(1) || t.a || t.b,
                                 p := CAST(NULL AS VARCHAR))
              WHEN acc.p IS NULL THEN struct_pack(o := acc.o, p := x.p)
              ELSE struct_pack(o := acc.o || chr(1) || acc.p, p := x.p)
            END) AS f)
         SELECT string_split(substring(CASE WHEN f.p IS NULL THEN f.o
                                 ELSE f.o || chr(1) || f.p END, 2), chr(1))
         FROM r) AS syms
      FROM {prev} s, {top} t"""


def _bpe_round_sql(r: int, mat: bool = False) -> str:
    """One training round.  ``mat=True`` MATERIALIZES top{r} — required
    whenever a query references a top more than once (training fold +
    apply fold): DuckDB inlines multiply-referenced CTEs, re-evaluating
    the whole upstream chain per reference (2^rounds blowup — the r9
    logreg lesson)."""
    prev = f"syms{r - 1}"
    m = " MATERIALIZED" if mat else ""
    return f"""
    pairs{r} AS (
      SELECT syms[r.i] AS a, syms[r.i + 1] AS b, cnt
      FROM {prev}, unnest(range(1, len(syms))) AS r(i)
    ),
    counts{r} AS (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n FROM pairs{r} GROUP BY a, b
    ),
    top{r} AS{m} (
      SELECT a, b, n FROM counts{r} ORDER BY n DESC, a, b LIMIT 1
    ),
    syms{r} AS ({_bpe_fold_sql(prev, f'top{r}')})"""


_BPE_MERGE_EXPR = """
  aggregate(
    syms,
    named_struct('o', CAST(array() AS ARRAY<STRING>), 'p', CAST(NULL AS STRING)),
    (acc, s) -> CASE
      WHEN acc.p = a AND s = b
        THEN named_struct('o', concat(acc.o, array(concat(a, b))),
                          'p', CAST(NULL AS STRING))
      WHEN acc.p IS NULL THEN named_struct('o', acc.o, 'p', s)
      ELSE named_struct('o', concat(acc.o, array(acc.p)), 'p', s) END,
    acc -> CASE WHEN acc.p IS NULL THEN acc.o
                ELSE concat(acc.o, array(acc.p)) END)
"""


@register(
    "bpe_merge_loop",
    f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    syms0 AS (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(_bpe_round_sql(r) for r in (1, 2, 3))}
    SELECT 1 AS step, a || '+' || b AS pair, a || b AS merged, n FROM top1
    UNION ALL
    SELECT 2, a || '+' || b, a || b, n FROM top2
    UNION ALL
    SELECT 3, a || '+' || b, a || b, n FROM top3
    ORDER BY step
    """,
    doc="the full BPE training LOOP (three merge rounds), not just the "
    "candidate count bpe_top_merges stops at: the corpus collapses to a "
    "frequency-weighted word VOCAB first (the classic BPE trick — all "
    "pair statistics and merges run over distinct words x counts, so the "
    "working set is vocabulary-sized no matter how many tokens the "
    "corpus has), each round counts adjacent symbol pairs (map-side-"
    "combinable, shuffle bounded by pair-vocabulary), takes the argmax "
    "pair (n DESC, a, b — deterministic), and rewrites every word's "
    "symbol array with a leftmost-non-overlapping merge fold (pure "
    "higher-order aggregate; the 1-row winner broadcasts). Both engines "
    "run the identical fold (edge-cases pinned in tests: overlapping "
    "'aaa', chained 'abab', singleton). At 100 TB the vocab aggregate is "
    "the only corpus-sized pass; the loop itself is vocab-sized per "
    "round — exactly how industrial BPE trainers (SentencePiece et al.) "
    "structure it",
)
def bpe_merge_loop(spark, sf_dir):
    tops = _bpe_tops_cached(spark, sf_dir, "full")
    outs = [
        top.select(
            F.lit(step).alias("step"),
            F.concat_ws("+", "a", "b").alias("pair"),
            F.concat("a", "b").alias("merged"),
            F.col("n").cast("bigint").alias("n"),
        )
        for step, top in enumerate(tops, start=1)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("step")


def _bpe_train_tops(docs, rounds=3):
    """The 3-round BPE training loop, factored so bpe_merge_loop (train)
    and bpe_encode_apply (apply) learn from the IDENTICAL fold: corpus
    collapses to a frequency-weighted word vocab, each round counts
    adjacent symbol pairs (map-side-combinable, pair-vocabulary
    shuffle), takes the (n DESC, a, b) argmax, and rewrites symbols with
    the leftmost-non-overlapping merge fold.  Returns the per-round
    1-row merge tables (localCheckpoint-ed: the argmax truncates the
    iterative lineage — clustering.py discipline — and each top is
    consumed by BOTH the next round and the apply twin)."""
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = vocab.select(
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    )
    tops = []
    for _ in range(rounds):
        pairs = syms.select(
            "cnt",
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) < 2 "
                    "THEN CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) "
                    "ELSE transform(sequence(1, size(syms) - 1), "
                    "i -> named_struct('a', element_at(syms, i), "
                    "'b', element_at(syms, i + 1))) END"
                )
            ).alias("e"),
        )
        counts = pairs.groupBy(
            F.col("e.a").alias("a"), F.col("e.b").alias("b")
        ).agg(F.sum("cnt").alias("n"))
        top = counts.orderBy(F.desc("n"), "a", "b").limit(1).localCheckpoint()
        tops.append(top)
        syms = syms.crossJoin(F.broadcast(top)).select(
            "cnt", F.expr(_BPE_MERGE_EXPR).alias("syms")
        )
    return tops


def _tops_cached(spark, cache_key: str, builder):
    """Stage-cache a tokenizer trainer's tiny per-round merge tables
    (r15 optimization, guide §2.4/§1.2 — the _ivf_centroids_cached /
    _logreg_weights_cached discipline applied to the four tokenizer
    families): each family's iterative trainer (3 merge rounds / 2 EM
    rounds, one eager argmax job per round) was re-run by EVERY consumer
    — the standalone train/apply/holdout/drift queries AND all four legs
    of tokenizer_family_bakeoff retrained identical vocab tables on the
    identical corpus slice.  The per-round winners are deterministic
    (ties broken (n DESC, a, b)); strings/longs/doubles round-trip
    parquet bit-exactly, so hit and miss paths are value-identical.
    Returns the per-round tables as a list of 1-row DataFrames, exactly
    what the trainers return."""
    import os

    from newyork_taxi_etl_spark.stagecache import cached_dir

    def build(target: str) -> None:
        tops = builder()
        out = None
        for i, t in enumerate(tops):
            leg = t.select(F.lit(i).alias("step"), "*")
            out = leg if out is None else out.unionByName(leg)
        os.makedirs(target, exist_ok=True)
        out.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(target, "tops")
        )
        with open(os.path.join(target, "NROUNDS"), "w") as f:
            f.write(str(len(tops)))

    sdir = cached_dir(cache_key, build)
    with open(os.path.join(sdir, "NROUNDS")) as f:
        rounds = int(f.read())
    allt = spark.read.parquet(os.path.join(sdir, "tops"))
    return [
        allt.filter(F.col("step") == i).drop("step") for i in range(rounds)
    ]


def _holdout_cached(spark, sf_dir, family: str, build):
    """Per-(split, lang) scored holdout table through the per-process
    stage cache (r16, r15 verdict item 4 — the _tops_cached discipline
    extended from the trained merge tables to the scored holdout
    tables): each family's holdout scoring pass ran TWICE per process —
    once for the standalone *_holdout_fertility query and once inside
    tokenizer_family_bakeoff's leg.  The table is tiny (splits x langs
    rows of strings/bigints/doubles — bit-exact through parquet) and
    every consumer re-sorts, so hit and miss paths are value-identical."""
    from newyork_taxi_etl_spark.stagecache import cached_df

    return cached_df(
        spark, f"holdout_scored_{family}:{sf_dir}", build, n_files=1
    ).orderBy("split", "lang")


def _split_docs(docs, split: str):
    """The two training corpora of the tokenizer families: the full
    corpus and the %5!=0 train split (holdout/bakeoff queries)."""
    if split == "full":
        return docs
    return docs.filter(F.col("doc_id") % 5 != 0)


def _bpe_tops_cached(spark, sf_dir, split: str):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return _tops_cached(
        spark,
        f"bpetops3:{split}:{sf_dir}",
        lambda: _bpe_train_tops(_split_docs(docs, split)),
    )


def _wp_tops_cached(spark, sf_dir, split: str):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return _tops_cached(
        spark,
        f"wptops3:{split}:{sf_dir}",
        lambda: _wp_train_tops(_split_docs(docs, split)),
    )


def _bb_tops_cached(spark, sf_dir, split: str):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    vocab = (
        _split_docs(docs, split)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return _tops_cached(
        spark,
        f"bbtops3:{split}:{sf_dir}",
        lambda: bytebpe_train_tops(vocab, rounds=3),
    )


def _uni_final_cached(spark, sf_dir, split: str):
    """train_unigram's final (piece, cnt) table through the same stage
    cache (em_rounds=2, keep_multi=24 — the only configuration any
    registered query trains)."""
    from newyork_taxi_etl_spark.stagecache import cached_df

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return cached_df(
        spark,
        f"unifinal_em2k24:{split}:{sf_dir}",
        lambda: UNI.train_unigram(
            _split_docs(docs, split), em_rounds=2, keep_multi=24
        ),
        n_files=1,
    )


def _bpe_encoded_words(spark, sf_dir):
    """(lang, w, cnt, syms): every distinct (lang, word) of the corpus
    encoded with the trained merge table — the merges apply in training
    order via the same fold.  Exposed for the round-trip invariant test
    (concat(syms) must reconstruct w exactly)."""
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    tops = _bpe_tops_cached(spark, sf_dir, "full")
    lv = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    enc = lv.select(
        "lang",
        "w",
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    )
    for top in tops:
        enc = enc.crossJoin(F.broadcast(top)).select(
            "lang", "w", "cnt", F.expr(_BPE_MERGE_EXPR).alias("syms")
        )
    return enc


_BPE_APPLY_SQL = f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    syms0 AS (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(_bpe_round_sql(r, mat=True) for r in (1, 2, 3))},
    langvocab AS (
      SELECT lang, w, COUNT(*) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
      GROUP BY lang, w
    ),
    asyms0 AS (
      SELECT lang, cnt,
             list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM langvocab
    ),
    asyms1 AS ({_bpe_fold_sql('asyms0', 'top1', keep='s.lang, s.cnt')}),
    asyms2 AS ({_bpe_fold_sql('asyms1', 'top2', keep='s.lang, s.cnt')}),
    asyms3 AS ({_bpe_fold_sql('asyms2', 'top3', keep='s.lang, s.cnt')})
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(cnt) AS BIGINT) AS n_instances,
           CAST(SUM(cnt * len(syms)) AS BIGINT) AS bpe_symbols,
           ROUND(CAST(SUM(cnt * len(syms)) AS DOUBLE) / SUM(cnt), 6)
             AS bpe_fertility,
           ROUND(CAST(SUM(cnt * length(
                   list_reduce(syms, (a, b) -> a || b))) AS DOUBLE)
                 / SUM(cnt * len(syms)), 6) AS chars_per_symbol
    FROM asyms3
    GROUP BY lang
    ORDER BY lang"""


@register(
    "bpe_encode_apply",
    _BPE_APPLY_SQL,
    doc="BPE ENCODE — the trained-merges twin of bpe_merge_loop, closing "
    "the tokenizer loop (train -> apply -> budget): the 3-round merge "
    "table learned by the training fold is applied, in training order, "
    "to every distinct (lang, word) of the corpus with the SAME "
    "leftmost-non-overlapping higher-order fold both engines share, "
    "and the per-lang encoded-token budget comes out — word instances, "
    "total encoded symbols, BPE fertility (symbols per word instance, "
    "the number token_fertility_by_lang baselines at the whitespace "
    "level) and mean chars-per-symbol (compression the merges bought). "
    "Scale: training is vocab-sized per round (bpe_merge_loop's "
    "contract); apply runs once over the (lang, word) vocab — never "
    "per token instance — with each 1-row merge broadcast; all sums "
    "are integer (cnt x lengths), engine-exact. Round-trip invariant "
    "(decode(encode(w)) == w for every word) is pytest-pinned via "
    "_bpe_encoded_words.",
)
def bpe_encode_apply(spark, sf_dir):
    enc = _bpe_encoded_words(spark, sf_dir)
    n_chars = F.expr(
        "aggregate(syms, 0L, (acc, s) -> acc + length(s))"
    )
    return (
        enc.select(
            "lang",
            "cnt",
            F.size("syms").alias("n_syms"),
            n_chars.alias("n_chars"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("cnt").cast("bigint").alias("n_instances"),
            F.sum(F.col("cnt") * F.col("n_syms"))
            .cast("bigint")
            .alias("bpe_symbols"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_syms")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("bpe_fertility"),
            F.round(
                F.sum(F.col("cnt") * F.col("n_chars")).cast("double")
                / F.sum(F.col("cnt") * F.col("n_syms")),
                6,
            ).alias("chars_per_symbol"),
        )
        .orderBy("lang")
    )


_BPE_HOLDOUT_SQL = f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % 5 <> 0)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    syms0 AS (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(_bpe_round_sql(r, mat=True) for r in (1, 2, 3))},
    langvocab AS (
      SELECT doc_id % 5 = 0 AS is_val, lang, w, COUNT(*) AS cnt
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
      GROUP BY 1, lang, w
    ),
    asyms0 AS (
      SELECT is_val, lang, cnt,
             list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM langvocab
    ),
    asyms1 AS ({_bpe_fold_sql('asyms0', 'top1',
                              keep='s.is_val, s.lang, s.cnt')}),
    asyms2 AS ({_bpe_fold_sql('asyms1', 'top2',
                              keep='s.is_val, s.lang, s.cnt')}),
    asyms3 AS ({_bpe_fold_sql('asyms2', 'top3',
                              keep='s.is_val, s.lang, s.cnt')})
    SELECT CASE WHEN is_val THEN 'holdout' ELSE 'train' END AS split,
           lang,
           CAST(SUM(cnt) AS BIGINT) AS n_instances,
           CAST(SUM(cnt * len(syms)) AS BIGINT) AS bpe_symbols,
           ROUND(CAST(SUM(cnt * len(syms)) AS DOUBLE) / SUM(cnt), 6)
             AS bpe_fertility
    FROM asyms3
    GROUP BY 1, lang
    ORDER BY split, lang"""


@register(
    "bpe_holdout_fertility",
    _BPE_HOLDOUT_SQL,
    doc="TOKENIZER GENERALIZATION — the held-out eval of the BPE loop "
    "(the number a tokenizer team actually ships on): merges train "
    "ONLY on the 80% hash split (doc_id % 5 <> 0; bpe_merge_loop and "
    "bpe_encode_apply train on the full corpus), then encode BOTH "
    "splits and report per-(split, lang) BPE fertility side by side — "
    "a held-out fertility materially above train fertility means the "
    "merge table memorized the training vocabulary instead of "
    "learning reusable subwords.  Same shared training fold "
    "(_bpe_train_tops) and apply fold as the full-corpus twins; "
    "training is vocab-sized per round, apply runs once over the "
    "(split, lang, word) vocab with each 1-row merge broadcast; all "
    "sums integer.",
)
def bpe_holdout_fertility(spark, sf_dir):
    def build():
        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        tops = _bpe_tops_cached(spark, sf_dir, "train80")
        lv = (
            docs.select(
                (F.col("doc_id") % 5 == 0).alias("is_val"),
                "lang",
                F.explode(F.split("text", " ")).alias("w"),
            )
            .filter(F.col("w") != "")
            .groupBy("is_val", "lang", "w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        enc = lv.select(
            "is_val",
            "lang",
            "cnt",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
        for top in tops:
            enc = enc.crossJoin(F.broadcast(top)).select(
                "is_val", "lang", "cnt", F.expr(_BPE_MERGE_EXPR).alias("syms")
            )
        return (
            enc.select(
                F.when(F.col("is_val"), "holdout").otherwise("train").alias(
                    "split"
                ),
                "lang",
                "cnt",
                F.size("syms").alias("n_syms"),
            )
            .groupBy("split", "lang")
            .agg(
                F.sum("cnt").cast("bigint").alias("n_instances"),
                F.sum(F.col("cnt") * F.col("n_syms"))
                .cast("bigint")
                .alias("bpe_symbols"),
                F.round(
                    F.sum(F.col("cnt") * F.col("n_syms")).cast("double")
                    / F.sum("cnt"),
                    6,
                ).alias("bpe_fertility"),
            )
        )

    return _holdout_cached(spark, sf_dir, "bpe", build)


@register(
    "udtf_token_explode",
    """
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
           MAX(tok) AS max_token
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
        WHERE doc_id % 25 = 0
    ) exploded
    WHERE tok <> ''
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Python UDTF (Spark 4 user-defined TABLE function) — the "
    "set-returning Python-boundary form: a @udtf class tokenizes each "
    "document into (pos, token) rows through a LATERAL correlated call "
    "in SQL, then a per-doc aggregate (token count / distinct / max) "
    "collapses the expansion; the oracle replays it with DuckDB's "
    "string_split + unnest.  The UDTF yields per input row with no "
    "buffering, so the expansion streams through the Arrow channel — "
    "task memory stays O(batch), not O(doc tokens x docs).  For "
    "pure tokenization Spark's built-in split+explode is the faster "
    "JVM path (used by text_token_count); a UDTF earns its Python tax "
    "only when per-row expansion logic outgrows expressions — this "
    "query pins the plumbing (registration, LATERAL join, multi-column "
    "yield schema, empty-token filtering parity) against a value "
    "oracle.  Sampled to doc_id % 25 = 0 so the Python-side expansion "
    "is a bounded slice at any scale factor.",
)
def udtf_token_explode(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, token: string")
    class Tokenize:
        def eval(self, text):
            if text is None:
                return
            for i, tok in enumerate(text.split(" ")):
                if tok:
                    yield i, tok

    spark.udtf.register("tokenize_udtf", Tokenize)
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    docs.filter(F.col("doc_id") % 25 == 0).createOrReplaceTempView(
        "udtf_docs_slice"
    )
    return spark.sql(
        """
        SELECT d.doc_id,
               COUNT(*) AS n_tokens,
               COUNT(DISTINCT t.token) AS n_distinct,
               MAX(t.token) AS max_token
        FROM udtf_docs_slice d, LATERAL tokenize_udtf(d.text) t
        GROUP BY d.doc_id
        ORDER BY d.doc_id
        """
    )


@register(
    "arrow_doc_length_stats",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="mapInArrow — the zero-copy Arrow-native Python-boundary form "
    "(vs pandas-converting mapInPandas): per-batch pyarrow compute "
    "(utf8_length) appends a length column without any pandas "
    "round-trip or per-row Python, then a JVM aggregate folds per-lang "
    "stats; the oracle recomputes with SQL LENGTH.  The boundary "
    "matrix is now complete: SCALAR pandas_udf (ANN BLAS), GROUPED_AGG "
    "(grouped_quantile_pandas_agg), grouped-map applyInPandas "
    "(trimmed_mean_pandas), mapInPandas (multimodal), "
    "applyInPandasWithState (stateful_user_stats), UDTF "
    "(udtf_token_explode), and mapInArrow here.  Like every "
    "Python-boundary query, the built-in JVM expression (F.length) is "
    "the faster path for THIS computation — the query pins the "
    "plumbing (RecordBatch iterator contract, schema declaration, "
    "batch-wise zero-copy) for the ops that genuinely need Arrow, "
    "e.g. tokenizers over arrow-backed vocabularies.",
)
def arrow_doc_length_stats(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents")).select(
        "lang", "text"
    )

    def add_len(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("lang")),
                    pc.cast(
                        pc.utf8_length(
                            b.column(b.schema.get_field_index("text"))
                        ),
                        pa.int64(),
                    ),
                ],
                names=["lang", "n_chars"],
            )

    lengths = docs.mapInArrow(add_len, "lang string, n_chars long")
    return (
        lengths.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@register(
    "feature_hashing_profile",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT tok,
             CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 32
               AS bucket
      FROM toks
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM hashed
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="the HASHING TRICK (feature hashing, the vectorizer that needs no "
    "vocabulary pass): every token maps to bucket md5(tok) mod 32, and "
    "the per-bucket occupancy — occurrence mass plus DISTINCT-token "
    "collision load — is the profile that tells you whether the chosen "
    "dimensionality is collision-saturated before you train on it. "
    "One-pass, stateless, embarrassingly parallel: no vocabulary "
    "broadcast, no OOV handling, the properties that make it the "
    "100 TB-safe vectorizer; the only shuffle is the 32-key final "
    "aggregate (map-side combined). The md5-hex-prefix bucket is the "
    "same engine-parity idiom the CMS family pins (queries/profiling).",
)
def feature_hashing_profile(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    hashed = toks.select(
        "tok",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint"),
            F.lit(32),
        ).alias("bucket"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("tok").cast("bigint").alias("n_distinct_tokens"),
        )
        .orderBy("bucket")
    )


@register(
    "array_hof_surface",
    """
    WITH per_doc AS (
      SELECT doc_id, lang,
             CAST(list_aggregate(
               list_filter(
                 list_transform(string_split(text, ' '), t -> length(t)),
                 x -> x > 3),
               'sum') AS BIGINT) AS long_char_sum,
             CAST(len(list_filter(
               list_transform(string_split(text, ' '), t -> length(t)),
               x -> x > 3)) AS BIGINT) AS n_long,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    )
    SELECT lang,
           CAST(SUM(long_char_sum) AS BIGINT) AS long_char_sum,
           CAST(SUM(n_long) AS BIGINT) AS n_long_tokens,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    doc="array HIGHER-ORDER-FUNCTION surface (transform / filter / "
    "aggregate lambdas): per document, token lengths are computed, "
    "length-filtered and folded entirely INSIDE the JVM expression "
    "engine — zero explode, zero Python, one row in one row out — then "
    "rolled up per language. This is the idiom that keeps per-row "
    "array work out of Generate/exploded shuffles at 100 TB: the "
    "lambda pipeline runs inside the scan's projection (whole-stage "
    "codegen), and the only exchange is the O(langs) final aggregate. "
    "DuckDB's list_transform/list_filter/list_aggregate mirror the "
    "semantics exactly.",
)
def array_hof_surface(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    lens = "transform(split(text, ' '), t -> length(t))"
    longs = f"filter({lens}, x -> x > 3)"
    per_doc = docs.select(
        "lang",
        F.expr(
            f"CAST(aggregate({longs}, 0L, (acc, x) -> acc + x) AS BIGINT)"
        ).alias("long_char_sum"),
        F.expr(f"CAST(size({longs}) AS BIGINT)").alias("n_long"),
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_toks"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("long_char_sum").cast("bigint").alias("long_char_sum"),
            F.sum("n_long").cast("bigint").alias("n_long_tokens"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        .orderBy("lang")
    )


def _tok_stream(docs):
    """Documents -> (doc_id, lang, tok) exploded token stream."""
    return docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )


def _bi_stream(docs):
    """Documents -> (doc_id, lang, bg) exploded bigram stream (the
    with_shingles n=2 form — docs under 2 tokens contribute nothing)."""
    from newyork_taxi_etl_spark.functions.text import with_shingles

    return with_shingles(docs, "text", 2, out="bgs").select(
        "doc_id", "lang", F.explode("bgs").alias("bg")
    )


def _uni_add1_nll(toks):
    """Per-token-instance add-1 unigram NLL (lm_perplexity_score /
    ccnet_perplexity_buckets algebra, single shared implementation)."""
    uni = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    utot = uni.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    return (
        toks.join(F.broadcast(uni), ["lang", "tok"])
        .join(F.broadcast(utot), "lang")
        .select(
            "doc_id",
            "lang",
            F.round(
                -F.log(
                    (F.col("cnt") + 1)
                    / (F.col("total") + F.col("vocab")).cast("double")
                ),
                12,
            ).alias("nll"),
        )
    )


def _bi_add1_nll(bi, utot):
    """Per-bigram-instance add-1 NLL: P(w2|w1) = (C(w1 w2)+1)/(C(w1 .)+V)
    — bigram_lm_compare's leg, factored for the Kneser-Ney comparison."""
    blm = bi.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    firsts = (
        blm.select(
            "lang",
            F.split(F.col("bg"), " ").getItem(0).alias("w1"),
            "cnt",
        )
        .groupBy("lang", "w1")
        .agg(F.sum("cnt").cast("bigint").alias("c1"))
    )
    return (
        bi.join(F.broadcast(blm), ["lang", "bg"])
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(F.broadcast(firsts), ["lang", "w1"])
        .join(F.broadcast(utot), "lang")
        .select(
            "doc_id",
            "lang",
            F.round(
                -F.log(
                    (F.col("cnt") + 1)
                    / (F.col("c1") + F.col("vocab")).cast("double")
                ),
                12,
            ).alias("nll"),
        )
    )


def _kn_nll(bi):
    """Per-bigram-instance INTERPOLATED KNESER-NEY NLL (Kneser & Ney
    1995; Chen & Goodman 1998 empirical study), absolute discount
    D=0.75:

        P_KN(w2|w1) = (C(w1 w2) - D)/C(w1 .)
                      + (D * N1+(w1 .)/C(w1 .)) * (N1+(. w2)/N1+(. .))

    where N1+(w1 .) = distinct continuations of w1, N1+(. w2) = distinct
    left-contexts of w2 (the continuation probability — how many
    contexts a word completes, not how often it occurs), N1+(. .) =
    bigram type count.  Scored in-sample (the family's convention), so
    every count is >= 1 and no zero/unseen branch exists; all four
    model tables are lang x vocab-sized broadcasts.  The arithmetic
    tree is written identically in the DuckDB oracle so the IEEE
    evaluation matches term for term."""
    blm = bi.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    sp = blm.select(
        "lang",
        "bg",
        "cnt",
        F.split(F.col("bg"), " ").getItem(0).alias("w1"),
        F.split(F.col("bg"), " ").getItem(1).alias("w2"),
    )
    c1 = sp.groupBy("lang", "w1").agg(
        F.sum("cnt").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    pc = sp.groupBy("lang", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("nprec")
    )
    btypes = blm.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("ntypes")
    )
    p_kn = ((F.col("cnt") - F.lit(0.75)) / F.col("c1")) + (
        (F.lit(0.75) * F.col("n1f")) / F.col("c1")
    ) * (F.col("nprec") / F.col("ntypes").cast("double"))
    return (
        bi.join(F.broadcast(blm), ["lang", "bg"])
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .withColumn("w2", F.split(F.col("bg"), " ").getItem(1))
        .join(F.broadcast(c1), ["lang", "w1"])
        .join(F.broadcast(pc), ["lang", "w2"])
        .join(F.broadcast(btypes), "lang")
        .select(
            "doc_id", "lang", F.round(-F.log(p_kn), 12).alias("nll")
        )
    )


def _doc_mean_nll(nll_df, out="s"):
    """Per-doc mean NLL, decimal-summed, ROUND 6 — the family's shared
    doc-score fold."""
    return nll_df.groupBy("doc_id", "lang").agg(
        F.round(
            F.sum(F.col("nll").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias(out)
    )


def _doc_nll_cached(spark, sf_dir, model: str, out: str):
    """Per-doc mean-NLL score table (doc_id, lang, <out>) for one of the
    three LM scoring legs, through the per-process stage cache (r16,
    guide §2.4/§1.2 — the _tops_cached discipline applied to the scored
    tables): kneser_ney_lm_compare, ccnet_kn_bucket_agreement and
    bigram_lm_compare each re-ran full scoring chains another query in
    the same process had already run (the KN chain twice, the add-1
    bigram chain twice, the add-1 unigram chain twice).  Each chain is a
    pure deterministic function of the corpus; (bigint, string, double)
    round-trip parquet bit-exactly and every consumer aggregates
    order-independently, so hit and miss paths are value-identical."""
    from newyork_taxi_etl_spark.stagecache import cached_df

    def build():
        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        if model == "kn":
            return _doc_mean_nll(_kn_nll(_bi_stream(docs)), out="s")
        if model == "bi_add1":
            toks = _tok_stream(docs)
            uni = toks.groupBy("lang", "tok").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            utot = uni.groupBy("lang").agg(
                F.sum("cnt").cast("bigint").alias("total"),
                F.count(F.lit(1)).alias("vocab"),
            )
            return _doc_mean_nll(_bi_add1_nll(_bi_stream(docs), utot), out="s")
        if model == "uni_add1":
            return _doc_mean_nll(_uni_add1_nll(_tok_stream(docs)), out="s")
        raise ValueError(model)

    df = cached_df(spark, f"docnll_{model}:{sf_dir}", build)
    return df.select("doc_id", "lang", F.col("s").alias(out))


@register(
    "bigram_lm_compare",
    """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    uni AS (SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    utot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS vocab
      FROM uni GROUP BY lang
    ),
    bi AS (
      SELECT doc_id, lang,
             unnest(CASE WHEN len(string_split(text, ' ')) >= 2
               THEN list_transform(
                      range(1, len(string_split(text, ' '))),
                      i -> string_split(text, ' ')[i] || ' '
                           || string_split(text, ' ')[i + 1])
               ELSE [] END) AS bg
      FROM documents
    ),
    blm AS (SELECT lang, bg, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
    firsts AS (
      SELECT lang, string_split(bg, ' ')[1] AS w1,
             CAST(SUM(cnt) AS BIGINT) AS c1
      FROM blm GROUP BY 1, 2
    ),
    uni_nll AS (
      SELECT t.doc_id, t.lang,
             ROUND(-ln((u.cnt + 1)
                       / CAST(ut.total + ut.vocab AS DOUBLE)), 12) AS nll
      FROM toks t
      JOIN uni u ON t.lang = u.lang AND t.tok = u.tok
      JOIN utot ut ON t.lang = ut.lang
    ),
    bi_nll AS (
      SELECT b.doc_id, b.lang,
             ROUND(-ln((bl.cnt + 1)
                       / CAST(f.c1 + ut.vocab AS DOUBLE)), 12) AS nll
      FROM bi b
      JOIN blm bl ON b.lang = bl.lang AND b.bg = bl.bg
      JOIN firsts f ON b.lang = f.lang
                   AND string_split(b.bg, ' ')[1] = f.w1
      JOIN utot ut ON b.lang = ut.lang
    ),
    du AS (
      SELECT doc_id, lang,
             ROUND(CAST(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE) / COUNT(*), 6) AS s
      FROM uni_nll GROUP BY 1, 2
    ),
    db AS (
      SELECT doc_id, lang,
             ROUND(CAST(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE) / COUNT(*), 6) AS s
      FROM bi_nll GROUP BY 1, 2
    )
    SELECT du.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(du.s AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*), 6) AS avg_nll_uni,
           ROUND(CAST(CAST(SUM(CAST(db.s AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*), 6) AS avg_nll_bi,
           ROUND(CAST(CAST(SUM(CAST(du.s AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*)
                 - CAST(CAST(SUM(CAST(db.s AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE) / COUNT(*), 6) AS nll_reduction
    FROM du JOIN db ON du.doc_id = db.doc_id AND du.lang = db.lang
    GROUP BY du.lang
    ORDER BY du.lang
    """,
    doc="BIGRAM LM vs unigram baseline (the model-order upgrade of "
    "lm_perplexity_score, whose add-1 discipline both legs reuse): "
    "P(w2|w1) = (C(w1 w2)+1)/(C(w1 .)+V) per language, each doc scored "
    "by mean bigram NLL next to its mean unigram NLL, per-language "
    "averages and the NLL REDUCTION out — the measured payoff of "
    "conditioning on one token of context (0 would mean the corpus has "
    "no sequential structure; the gate records the number instead of "
    "assuming it). Dataflow: one extra (lang, bigram) count and a "
    "(lang, w1) first-token marginal beyond the unigram tables — all "
    "lang x vocab-sized broadcasts onto the exploded streams; ln at "
    "ROUND(12), decimal sums, VARCHAR-routed out-casts throughout.",
)
def bigram_lm_compare(spark, sf_dir):
    dec = "decimal(38,12)"
    # both per-doc score tables come from the shared stage cache (r16):
    # the add-1 unigram leg is ccnet_kn_bucket_agreement's first cut and
    # the add-1 bigram leg is kneser_ney_lm_compare's baseline — one
    # scoring chain per process instead of two each
    du = _doc_nll_cached(spark, sf_dir, "uni_add1", out="su")
    db = _doc_nll_cached(spark, sf_dir, "bi_add1", out="sb")
    avg_u = F.sum(F.col("su").cast(dec)).cast("double") / F.count(F.lit(1))
    avg_b = F.sum(F.col("sb").cast(dec)).cast("double") / F.count(F.lit(1))
    return (
        du.join(db, ["doc_id", "lang"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(avg_u, 6).alias("avg_nll_uni"),
            F.round(avg_b, 6).alias("avg_nll_bi"),
            F.round(avg_u - avg_b, 6).alias("nll_reduction"),
        )
        .orderBy("lang")
    )


@register(
    "langid_confusion",
    f"""
    WITH p AS (
      SELECT lang AS labeled,
             CASE
               WHEN {marker_count_sql(_TOKS_SQL, 'the')} >= {marker_count_sql(_TOKS_SQL, 'scan')}
                AND {marker_count_sql(_TOKS_SQL, 'the')} >= {marker_count_sql(_TOKS_SQL, 'join')}
                AND {marker_count_sql(_TOKS_SQL, 'the')} >= {marker_count_sql(_TOKS_SQL, 'group')}
                 THEN 'en'
               WHEN {marker_count_sql(_TOKS_SQL, 'scan')} >= {marker_count_sql(_TOKS_SQL, 'join')}
                AND {marker_count_sql(_TOKS_SQL, 'scan')} >= {marker_count_sql(_TOKS_SQL, 'group')}
                 THEN 'de'
               WHEN {marker_count_sql(_TOKS_SQL, 'join')} >= {marker_count_sql(_TOKS_SQL, 'group')}
                 THEN 'es'
               ELSE 'fr'
             END AS predicted
      FROM documents
    ),
    cm AS (
      SELECT labeled, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2
    ),
    langs AS (
      SELECT labeled AS lang FROM cm
      UNION SELECT predicted FROM cm
    ),
    act AS (SELECT labeled AS lang, CAST(SUM(n) AS BIGINT) AS n_actual
            FROM cm GROUP BY 1),
    prd AS (SELECT predicted AS lang, CAST(SUM(n) AS BIGINT) AS n_predicted
            FROM cm GROUP BY 1),
    tp AS (SELECT labeled AS lang, CAST(SUM(n) AS BIGINT) AS n_correct
           FROM cm WHERE labeled = predicted GROUP BY 1),
    m AS (
      SELECT l.lang,
             COALESCE(a.n_actual, 0) AS n_actual,
             COALESCE(pr.n_predicted, 0) AS n_predicted,
             COALESCE(t.n_correct, 0) AS n_correct,
             CASE WHEN COALESCE(pr.n_predicted, 0) = 0 THEN 0.0
                  ELSE CAST(COALESCE(t.n_correct, 0) AS DOUBLE)
                       / pr.n_predicted END AS p,
             CASE WHEN COALESCE(a.n_actual, 0) = 0 THEN 0.0
                  ELSE CAST(COALESCE(t.n_correct, 0) AS DOUBLE)
                       / a.n_actual END AS r
      FROM langs l
      LEFT JOIN act a ON l.lang = a.lang
      LEFT JOIN prd pr ON l.lang = pr.lang
      LEFT JOIN tp t ON l.lang = t.lang
    )
    SELECT lang, n_actual, n_predicted, n_correct,
           ROUND(p, 6) AS precision_c,
           ROUND(r, 6) AS recall_c,
           CASE WHEN p + r = 0 THEN 0.0
                ELSE ROUND(2 * p * r / (p + r), 6) END AS f1
    FROM m
    ORDER BY lang
    """,
    doc="LANG-ID CONFUSION METRICS — text_lang_id's heuristic scored "
    "against the corpus labels (both engines agreeing on predictions "
    "proves the classifier runs, not that it classifies; this query "
    "reports the per-class precision/recall/F1 a model card actually "
    "needs, with the marker-count CASE inlined so the measured "
    "classifier IS the measured one): per language the actual / "
    "predicted / correct counts and P/R/F1 with zero-denominator "
    "edges pinned to 0.0 on both engines. Dataflow: one grouped "
    "aggregate to the confusion matrix (O(langs^2) rows), three "
    "O(langs) rollups, a lang-spine outer join — nothing event-sized "
    "after the first aggregate.",
)
def langid_confusion(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    cnt = {lang: marker_count(toks, w) for lang, w in MARKERS}
    pred = (
        F.when(
            (cnt["en"] >= cnt["de"])
            & (cnt["en"] >= cnt["es"])
            & (cnt["en"] >= cnt["fr"]),
            "en",
        )
        .when((cnt["de"] >= cnt["es"]) & (cnt["de"] >= cnt["fr"]), "de")
        .when(cnt["es"] >= cnt["fr"], "es")
        .otherwise("fr")
    )
    cm = (
        df.select(F.col("lang").alias("labeled"), pred.alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # feeds langs/act/prd/tp
    )
    langs = (
        cm.select(F.col("labeled").alias("lang"))
        .union(cm.select(F.col("predicted").alias("lang")))
        .distinct()
    )
    act = cm.groupBy(F.col("labeled").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_actual")
    )
    prd = cm.groupBy(F.col("predicted").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_predicted")
    )
    tp = (
        cm.filter(F.col("labeled") == F.col("predicted"))
        .groupBy(F.col("labeled").alias("lang"))
        .agg(F.sum("n").cast("bigint").alias("n_correct"))
    )
    m = (
        langs.join(act, "lang", "left")
        .join(prd, "lang", "left")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_actual", F.lit(0)).alias("n_actual"),
            F.coalesce("n_predicted", F.lit(0)).alias("n_predicted"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
        .withColumn(
            "p",
            F.when(F.col("n_predicted") == 0, 0.0).otherwise(
                F.col("n_correct").cast("double") / F.col("n_predicted")
            ),
        )
        .withColumn(
            "r",
            F.when(F.col("n_actual") == 0, 0.0).otherwise(
                F.col("n_correct").cast("double") / F.col("n_actual")
            ),
        )
    )
    return m.select(
        "lang",
        "n_actual",
        "n_predicted",
        "n_correct",
        F.round("p", 6).alias("precision_c"),
        F.round("r", 6).alias("recall_c"),
        F.when(F.col("p") + F.col("r") == 0, 0.0)
        .otherwise(
            F.round(2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r")), 6)
        )
        .alias("f1"),
    ).orderBy("lang")


@register(
    "novel_ngram_growth",
    f"""
    WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
    inst AS (
      SELECT doc_id,
             LEAST(9, doc_id * 10 // (mx.m + 1)) AS dec,
             unnest({shingles_sql('text', 3)}) AS g
      FROM documents, mx
    ),
    per_dec AS (
      SELECT dec, COUNT(*) AS n_inst FROM inst GROUP BY dec
    ),
    first_seen AS (
      SELECT g, MIN(dec) AS d0 FROM inst GROUP BY g
    ),
    novel AS (
      SELECT d0 AS dec, COUNT(*) AS n_new FROM first_seen GROUP BY d0
    ),
    cum AS (
      SELECT p.dec,
             CAST(p.n_inst AS BIGINT) AS n_instances,
             CAST(COALESCE(v.n_new, 0) AS BIGINT) AS new_ngrams,
             CAST(SUM(p.n_inst) OVER (ORDER BY p.dec
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_instances,
             CAST(SUM(COALESCE(v.n_new, 0)) OVER (ORDER BY p.dec
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
      FROM per_dec p LEFT JOIN novel v ON p.dec = v.dec
    ),
    pts AS (
      SELECT ROUND(ln(CAST(cum_instances AS DOUBLE)), 12) AS x,
             ROUND(ln(CAST(cum_vocab AS DOUBLE)), 12) AS y
      FROM cum
    ),
    fit AS (
      SELECT COUNT(*) AS n,
             {{sx}} AS sx, {{sy}} AS sy, {{sxy}} AS sxy, {{sxx}} AS sxx
      FROM pts
    )
    SELECT CAST(c.dec AS INT) AS decile,
           c.n_instances, c.new_ngrams, c.cum_instances, c.cum_vocab,
           ROUND(CAST(c.new_ngrams AS DOUBLE) / c.n_instances, 6)
             AS novelty_rate,
           ROUND((f.n * f.sxy - f.sx * f.sy)
                 / (f.n * f.sxx - f.sx * f.sx), 6) AS heaps_beta
    FROM cum c, fit f
    ORDER BY decile
    """.format(
        sx="CAST(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)",
        sy="CAST(CAST(SUM(CAST(y AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)",
        sxy="CAST(CAST(SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12)))"
        " AS VARCHAR) AS DOUBLE)",
        sxx="CAST(CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))"
        " AS VARCHAR) AS DOUBLE)",
    ),
    doc="NOVEL-N-GRAM GROWTH CURVE + Heaps-law exponent — the corpus "
    "DIVERSITY diagnostic of data acquisition (when the novelty rate "
    "flattens, more of the same source buys no new content; the curve "
    "is the evidence behind 'we need a new domain, not more crawl'): "
    "docs are cut into 10 doc-id deciles, every 3-gram shingle instance "
    "is counted per decile, each DISTINCT shingle attributes to the "
    "decile that first saw it (one MIN aggregate — the distributed "
    "first-occurrence trick; no quadratic prefix-distinct anywhere), "
    "and the cumulative (instances, vocab) points get the Heaps-law "
    "OLS fit ln V = k + beta ln N (zipf_token_slope's 12-dp decimal "
    "discipline). Per decile: instance/new-ngram counts, cumulative "
    "curve, novelty rate, and the fitted beta (constant column — the "
    "summary of the displayed curve). Scale shape: two shingle "
    "aggregates (map-side combinable) + O(10) everything else.",
)
def novel_ngram_growth(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.functions.text import with_shingles

    dec = "decimal(38,12)"
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    mx = docs.agg(F.max("doc_id").alias("m"))
    inst = (
        with_shingles(docs, "text", 3, out="sh")
        .crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.lit(9), F.expr("doc_id * 10 div (m + 1)")
            ).alias("dec"),
            F.explode("sh").alias("g"),
        )
    )
    inst = inst.localCheckpoint(eager=True)  # per-dec + first-seen scans
    per_dec = inst.groupBy("dec").agg(F.count(F.lit(1)).alias("n_inst"))
    novel = (
        inst.groupBy("g")
        .agg(F.min("dec").alias("d0"))
        .groupBy(F.col("d0").alias("dec"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    w = Window.orderBy("dec").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        per_dec.join(novel, "dec", "left")
        .select(
            "dec",
            F.col("n_inst").cast("bigint").alias("n_instances"),
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("new_ngrams"),
        )
        .withColumn(
            "cum_instances",
            F.sum("n_instances").over(w).cast("bigint"),
        )
        .withColumn("cum_vocab", F.sum("new_ngrams").over(w).cast("bigint"))
    )
    cum = cum.localCheckpoint(eager=True)  # output + fit scans
    pts = cum.select(
        F.round(F.log(F.col("cum_instances").cast("double")), 12).alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 12).alias("y"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast(dec))
        .cast("double")
        .alias("sxx"),
    )
    beta = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    return (
        cum.crossJoin(F.broadcast(fit))
        .select(
            F.col("dec").cast("int").alias("decile"),
            "n_instances",
            "new_ngrams",
            "cum_instances",
            "cum_vocab",
            F.round(
                F.col("new_ngrams").cast("double") / F.col("n_instances"), 6
            ).alias("novelty_rate"),
            beta.alias("heaps_beta"),
        )
        .orderBy("decile")
    )


_BG_SQL = shingles_sql("text", 2)


@register(
    "pmi_collocations",
    f"""
    WITH uc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({_TOKS_SQL}) AS w FROM documents)
      GROUP BY w
    ),
    bc AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM (SELECT unnest({_BG_SQL}) AS bigram FROM documents)
      GROUP BY bigram
    ),
    tot AS (
      SELECT CAST((SELECT SUM(c) FROM uc) AS BIGINT) AS t_uni,
             CAST((SELECT SUM(c_xy) FROM bc) AS BIGINT) AS t_bi
    )
    SELECT bigram, c_xy, ux.c AS c_x, uy.c AS c_y,
           ROUND(ln((CAST(c_xy AS DOUBLE) * t_uni * t_uni)
                    / (CAST(t_bi AS DOUBLE) * ux.c * uy.c)), 6) AS pmi
    FROM bc
    JOIN uc ux ON string_split(bigram, ' ')[1] = ux.w
    JOIN uc uy ON string_split(bigram, ' ')[2] = uy.w
    CROSS JOIN tot
    WHERE c_xy >= 5
    ORDER BY pmi DESC, bigram
    LIMIT 15
    """,
    doc="collocation extraction: top adjacent-bigram pairs by pointwise "
    "mutual information, PMI = ln(P(xy)/(P(x)P(y))), with a min-count "
    "floor of 5 so rare-pair noise (PMI's classic failure mode) never "
    "ranks. The multiword-expression miner a tokenizer-training "
    "pipeline runs before merge selection: high-PMI pairs are merge "
    "candidates that pure frequency (bpe_top_merges) under-ranks. "
    "Scale shape: two map-side-combinable token/bigram counts, a "
    "vocab-sized join (broadcastable: vocab << corpus), a 1-row "
    "totals broadcast, TakeOrderedAndProject top-15. The ln argument "
    "is built from identical left-associative double arithmetic on "
    "exact integer counts in both engines; PMI rounds at 6 dp (the "
    "sigmoid discipline: a last-ulp libm divergence cannot flip a "
    "6-dp digit except on a ~1e-17 boundary).",
)
def pmi_collocations(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.text import with_shingles

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    big = (
        with_shingles(docs, "text", 2, "bg")
        .select(F.explode("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_xy"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("t_uni")).crossJoin(
        big.agg(F.sum("c_xy").cast("bigint").alias("t_bi"))
    )
    sp = F.split("bigram", " ")
    out = (
        big.withColumn("x", sp.getItem(0))
        .withColumn("y", sp.getItem(1))
        .join(F.broadcast(uni.withColumnRenamed("w", "x")
                          .withColumnRenamed("c", "c_x")), "x")
        .join(F.broadcast(uni.withColumnRenamed("w", "y")
                          .withColumnRenamed("c", "c_y")), "y")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("c_xy") >= 5)
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") * F.col("t_uni") * F.col("t_uni"))
                    / (F.col("t_bi").cast("double") * F.col("c_x") * F.col("c_y"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return out.orderBy(F.desc("pmi"), "bigram").limit(15)


@register(
    "token_fertility_by_lang",
    f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOKS_SQL})) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]{{1,4}}'))) AS BIGINT)
             AS subword_tokens,
           ROUND(CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]{{1,4}}')))
                      AS DOUBLE) / SUM(len({_TOKS_SQL})), 6) AS fertility,
           ROUND(CAST(SUM(length(replace(text, ' ', ''))) AS DOUBLE)
                 / SUM(len(regexp_extract_all(text, '[a-z0-9]{{1,4}}'))), 6)
             AS chars_per_subword
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Tokenizer fertility by language — the cross-lingual token-budget "
    "fairness number (a language whose words shatter into more subwords "
    "pays more context per sentence; fertility = subwords per "
    "whitespace word decides per-language token budgets and flags "
    "tokenizer bias): whitespace tokens vs a greedy <=4-char regex "
    "subword segmentation (the same ceil(len/4)-family surrogate as "
    "text_token_count, realized as an actual RE2-subset segmentation "
    "identical in both engines), plus chars-per-subword compression. "
    "One map-side-combinable aggregate, integer counts, two rounded "
    "divisions at the end.",
)
def token_fertility_by_lang(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    sub = F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]{1,4}"), 0))
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(toks)).cast("bigint").alias("ws_tokens"),
            F.sum(sub).cast("bigint").alias("subword_tokens"),
            F.round(
                F.sum(sub).cast("double") / F.sum(F.size(toks)), 6
            ).alias("fertility"),
            F.round(
                F.sum(F.length(F.regexp_replace("text", " ", ""))).cast(
                    "double"
                )
                / F.sum(sub),
                6,
            ).alias("chars_per_subword"),
        )
        .orderBy("lang")
    )


@register(
    "chao1_vocab_richness",
    f"""
    WITH occ AS (
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({shingles_sql('text', 3)}) AS sh FROM documents)
      GROUP BY sh
    ),
    f AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d_obs,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
             CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM occ
    )
    SELECT d_obs, f1, f2, n_tokens,
           ROUND(d_obs + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)), 6)
             AS chao1_estimate,
           ROUND(CAST(d_obs AS DOUBLE)
                 / (d_obs + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1))),
                 6) AS coverage_frac
    FROM f
    """,
    doc="Chao1 species-richness estimate over the 3-shingle vocabulary — "
    "'how much vocabulary has the crawl NOT seen yet', the "
    "unseen-mass companion to novel_ngram_growth's Heaps curve (Heaps "
    "extrapolates the growth trend; Chao1 lower-bounds the asymptote "
    "from singleton/doubleton counts alone: D + f1(f1-1)/(2(f2+1)), "
    "the bias-corrected form that stays defined at f2 = 0). Observed "
    "distinct, f1, f2, the estimate, and observed/estimated coverage. "
    "Scale: one map-side-combinable occurrence count over exploded "
    "shingles, then one scalar aggregate — the frequency-of-frequency "
    "reduction is O(distinct shingles).",
)
def chao1_vocab_richness(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.text import with_shingles

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    occ = (
        with_shingles(docs, "text", 3, "sh")
        .select(F.explode("sh").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    f = occ.agg(
        F.count(F.lit(1)).cast("bigint").alias("d_obs"),
        F.sum((F.col("c") == 1).cast("int")).cast("bigint").alias("f1"),
        F.sum((F.col("c") == 2).cast("int")).cast("bigint").alias("f2"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    chao1 = F.col("d_obs") + (F.col("f1") * (F.col("f1") - 1)).cast(
        "double"
    ) / (2.0 * (F.col("f2") + 1))
    return f.select(
        "d_obs",
        "f1",
        "f2",
        "n_tokens",
        F.round(chao1, 6).alias("chao1_estimate"),
        F.round(F.col("d_obs").cast("double") / chao1, 6).alias(
            "coverage_frac"
        ),
    )


@register(
    "good_turing_smoothing",
    f"""
    WITH occ AS (
      SELECT sh, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest({shingles_sql('text', 3)}) AS sh FROM documents)
      GROUP BY sh
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM occ),
    ff AS (
      SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM occ GROUP BY c
    ),
    grid AS (SELECT unnest(range(0, 6)) AS r)
    SELECT g.r,
           COALESCE(f0.n_r, 0) AS n_r,
           COALESCE(f1.n_r, 0) AS n_r1,
           CASE WHEN g.r = 0 OR COALESCE(f0.n_r, 0) = 0 THEN NULL
                ELSE ROUND((g.r + 1) * CAST(COALESCE(f1.n_r, 0) AS DOUBLE)
                           / f0.n_r, 6) END AS r_star,
           ROUND(CASE WHEN g.r = 0
                      THEN CAST(COALESCE(f1.n_r, 0) AS DOUBLE) / tot.n
                      ELSE (g.r + 1) * CAST(COALESCE(f1.n_r, 0) AS DOUBLE)
                           / tot.n END, 6) AS gt_mass
    FROM grid g
    LEFT JOIN ff f0 ON f0.r = g.r
    LEFT JOIN ff f1 ON f1.r = g.r + 1
    CROSS JOIN tot
    ORDER BY g.r
    """,
    doc="GOOD-TURING frequency smoothing over the 3-shingle vocabulary — "
    "the discounting core of Katz/Kneser-Ney LM smoothing and the "
    "probability-mass companion to chao1_vocab_richness (Chao1 estimates "
    "how many SPECIES are unseen; Good-Turing estimates how much "
    "PROBABILITY MASS they carry: P0 = N1/N). For r = 0..5: the "
    "frequency-of-frequency N_r, the adjusted count r* = (r+1)N_{{r+1}}/N_r "
    "(NULL where undefined), and the total smoothed mass (r+1)N_{{r+1}}/N "
    "assigned to the r-count bucket (= N1/N unseen mass at r = 0). "
    "Scale: occurrence counts map-side combine to O(distinct shingles), "
    "the frequency-of-frequency table is O(max count), and the 6-row grid "
    "join is a broadcast — nothing wide after the first aggregate.",
)
def good_turing_smoothing(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.text import with_shingles

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    occ = (
        with_shingles(docs, "text", 3, "sh")
        .select(F.explode("sh").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tot = occ.agg(F.sum("c").cast("bigint").alias("n"))
    ff = occ.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    grid = spark.range(0, 6).select(F.col("id").cast("bigint").alias("r"))
    f0 = ff.select(F.col("r").alias("r0"), F.col("n_r").alias("nr0"))
    f1 = ff.select((F.col("r") - 1).alias("r1"), F.col("n_r").alias("nr1"))
    j = (
        grid.join(F.broadcast(f0), grid.r == F.col("r0"), "left")
        .join(F.broadcast(f1), grid.r == F.col("r1"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            F.coalesce("nr0", F.lit(0)).cast("bigint").alias("n_r"),
            F.coalesce("nr1", F.lit(0)).cast("bigint").alias("n_r1"),
            F.col("n"),
        )
    )
    r_star = F.when(
        (F.col("r") == 0) | (F.col("n_r") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.round((F.col("r") + 1) * F.col("n_r1").cast("double") / F.col("n_r"), 6)
    )
    gt_mass = F.round(
        F.when(
            F.col("r") == 0, F.col("n_r1").cast("double") / F.col("n")
        ).otherwise((F.col("r") + 1) * F.col("n_r1").cast("double") / F.col("n")),
        6,
    )
    return j.select(
        "r", "n_r", "n_r1", r_star.alias("r_star"), gt_mass.alias("gt_mass")
    ).orderBy("r")


@register(
    "token_entropy_by_lang",
    """
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    f AS (
      SELECT lang, tok, COUNT(*) AS cnt FROM toks
      WHERE tok <> '' GROUP BY lang, tok
    ),
    t AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM f GROUP BY lang
    ),
    h AS (
      SELECT f.lang,
             SUM(CAST(ROUND(-(CAST(f.cnt AS DOUBLE) / t.n)
                            * ln(CAST(f.cnt AS DOUBLE) / t.n), 12)
                      AS DECIMAL(38,12))) AS hs
      FROM f JOIN t USING (lang) GROUP BY f.lang
    )
    SELECT t.lang, t.n AS n_tokens, t.v AS vocab,
           ROUND(CAST(CAST(h.hs AS VARCHAR) AS DOUBLE), 6) AS entropy_nats,
           ROUND(CAST(CAST(h.hs AS VARCHAR) AS DOUBLE)
                 / NULLIF(ROUND(ln(CAST(t.v AS DOUBLE)), 12), 0), 6)
             AS norm_entropy,
           ROUND(1.0 - CAST(CAST(h.hs AS VARCHAR) AS DOUBLE)
                 / NULLIF(ROUND(ln(CAST(t.v AS DOUBLE)), 12), 0), 6)
             AS redundancy
    FROM t JOIN h USING (lang)
    ORDER BY t.lang
    """,
    doc="PER-LANGUAGE UNIGRAM ENTROPY — the corpus-health scalar between "
    "the Zipf slope (shape) and Chao1 (asymptote): H = -sum p ln p "
    "over the token distribution, normalized by ln(vocab) (norm 1 = "
    "perfectly uniform usage) and its complement REDUNDANCY (near 1 = "
    "a few tokens dominate — boilerplate or templating; the number "
    "compression-ratio heuristics approximate).  Engine-exactness: "
    "the -p ln p terms round at 12 dp and DECIMAL-sum (the "
    "categorical_mi_profile ln discipline — order-independent "
    "cross-engine), one double division at the end against the "
    "12-dp-rounded ln(V).  Scale: the corpus reduces map-side to the "
    "per-(lang, token) frequency table; the entropy sum runs over "
    "THAT, never over token instances.",
)
def token_entropy_by_lang(spark, sf_dir):
    dec = "decimal(38,12)"
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    f = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = f.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    p = F.col("cnt").cast("double") / F.col("n")
    h = (
        f.join(F.broadcast(t), "lang")
        .select("lang", F.round(-p * F.log(p), 12).alias("term"))
        .groupBy("lang")
        .agg(F.sum(F.col("term").cast(dec)).alias("hs"))
    )
    # nullif guard: a language slice with ONE distinct token has
    # ln(V)=0 — yield NULL identically on both engines, never 0/0
    # (the zero-sigma discipline embedding_outlier_screen applies).
    lnv = F.nullif(
        F.round(F.log(F.col("v").cast("double")), 12), F.lit(0.0)
    )
    return (
        t.join(h, "lang")
        .select(
            "lang",
            F.col("n").alias("n_tokens"),
            F.col("v").alias("vocab"),
            F.round(F.col("hs").cast("double"), 6).alias("entropy_nats"),
            F.round(F.col("hs").cast("double") / lnv, 6).alias(
                "norm_entropy"
            ),
            F.round(1.0 - F.col("hs").cast("double") / lnv, 6).alias(
                "redundancy"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (the SentencePiece family beside BPE) — engine in
# operators/unigram.py; here the registered queries and their DuckDB twins.

from newyork_taxi_etl_spark.operators import unigram as UNI  # noqa: E402


def _uni_words_sql(name: str, doc_filter: str = "") -> str:
    """Frequency-weighted word vocab CTE (the one corpus-sized pass)."""
    return f"""
    {name} AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents {doc_filter})
      WHERE w <> '' GROUP BY w
    )"""


def _uni_seed_sql(words: str, out: str) -> str:
    L = UNI.MAX_PIECE_LEN
    return f"""
    {out} AS MATERIALIZED (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, substring(w, r.i, s.d) AS piece
        FROM {words},
             unnest(range(1, len(w) + 1)) AS r(i),
             unnest(range(1, {L + 1})) AS s(d)
        WHERE r.i + s.d - 1 <= len(w)
      ) GROUP BY piece
    )"""


def _uni_costs_sql(counts: str, out: str) -> str:
    return f"""
    {out} AS MATERIALIZED (
      SELECT piece,
             CAST(ROUND(ln(CAST(t.tot AS DOUBLE) / cnt) * 1000000)
                  AS BIGINT) AS cost
      FROM {counts}, (SELECT SUM(cnt) AS tot FROM {counts}) t
    )"""


def _uni_seg_sql(words: str, costs: str, out: str) -> str:
    """Grid + Viterbi fold: (w, freq, pieces LIST(VARCHAR))."""
    L = UNI.MAX_PIECE_LEN
    fold = UNI.fold_sql_duckdb()
    return f"""
    {out}_grid AS (
      SELECT g.w, g.freq,
             list(COALESCE(lpad(CAST(c.cost AS VARCHAR), 16, '0'),
                           '{UNI.SENT}') ORDER BY g.i, g.d) AS grid
      FROM (
        SELECT uw.w, uw.freq, r.i, s.d,
               CASE WHEN s.d <= r.i
                    THEN substring(uw.w, r.i - s.d + 1, s.d) END AS piece
        FROM {words} uw,
             unnest(range(1, len(uw.w) + 1)) AS r(i),
             unnest(range(1, {L + 1})) AS s(d)
      ) g LEFT JOIN {costs} c USING (piece)
      GROUP BY g.w, g.freq
    ),
    {out} AS MATERIALIZED (
      SELECT w, freq, string_split({fold}, chr(2)) AS pieces
      FROM {out}_grid
    )"""


def _uni_em_round_sql(r: int, words: str, prefix: str = "u") -> str:
    """One hard-EM round: costs from counts{r-1}, Viterbi, re-count
    (single chars floored at 1 — coverage)."""
    p = prefix
    return f"""{_uni_costs_sql(f"{p}counts{r - 1}", f"{p}costs{r}")},
    {_uni_seg_sql(words, f"{p}costs{r}", f"{p}seg{r}")},
    {p}used{r} AS (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(pieces) AS piece FROM {p}seg{r})
      GROUP BY piece
    ),
    {p}counts{r} AS MATERIALIZED (
      SELECT piece, cnt FROM {p}used{r}
      UNION ALL
      SELECT piece, CAST(1 AS BIGINT) AS cnt
      FROM (SELECT DISTINCT substring(w, r.i, 1) AS piece
            FROM {words}, unnest(range(1, len(w) + 1)) AS r(i))
      ANTI JOIN {p}used{r} USING (piece)
    )"""


def _uni_final_sql(counts: str, out: str, keep_multi: int = 24) -> str:
    return f"""
    {out} AS MATERIALIZED (
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM {counts} WHERE len(piece) >= 2
        ORDER BY cnt DESC, piece LIMIT {keep_multi}
      )
      UNION ALL
      SELECT piece, cnt FROM {counts} WHERE len(piece) = 1
    )"""


_UNI_TRAIN_SQL = f"""
    WITH {_uni_words_sql("uwords")},
    {_uni_seed_sql("uwords", "ucounts0")},
    {_uni_em_round_sql(1, "uwords")},
    {_uni_em_round_sql(2, "uwords")},
    {_uni_final_sql("ucounts2", "ufinal")}
    SELECT piece, CAST(len(piece) AS INT) AS piece_len, cnt,
           ROUND(CAST(cnt AS DOUBLE) / t.tot, 6) AS prob
    FROM ufinal, (SELECT SUM(cnt) AS tot FROM ufinal) t
    ORDER BY cnt DESC, piece
    LIMIT 20
    """


@register(
    "unigram_lm_train",
    _UNI_TRAIN_SQL,
    doc="UNIGRAM-LM tokenizer trainer (Kudo 2018 / SentencePiece's "
    "unigram model — the other tokenizer family beside BPE): candidate "
    "pieces seeded from frequency-weighted substrings (len<=4), two "
    "hard-EM rounds (Viterbi E-step: integer micro-nat min-cost "
    "segmentation of every vocab word; M-step: freq-weighted piece "
    "usage, single chars floored — never pruned), then pruning to the "
    "top-24 multi-char pieces + all singles; output the final piece "
    "table with probabilities.  Bit-exact cross-engine: costs are "
    "round(ln(total/cnt)*1e6) BIGINTs, the Viterbi fold is a pure "
    "higher-order aggregate over a relationally-built cost grid with a "
    "LEXICOGRAPHIC argmin (padded cost, then piece length) — both "
    "engines run the identical fold (operators/unigram.py).  Scale: "
    "the corpus collapses ONCE to the word vocab (the bpe_merge_loop "
    "trick); every EM statistic, grid, and DP is vocab-sized.",
)
def unigram_lm_train(spark, sf_dir):
    final = _uni_final_cached(spark, sf_dir, "full")
    tot = final.agg(F.sum("cnt").cast("bigint").alias("_tot"))
    return (
        final.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            F.length("piece").cast("int").alias("piece_len"),
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("_tot"), 6).alias(
                "prob"
            ),
        )
        .orderBy(F.desc("cnt"), "piece")
        .limit(20)
    )


_UNI_HOLDOUT_SQL = f"""
    WITH {_uni_words_sql("uwords", "WHERE doc_id % 5 <> 0")},
    {_uni_seed_sql("uwords", "ucounts0")},
    {_uni_em_round_sql(1, "uwords")},
    {_uni_em_round_sql(2, "uwords")},
    {_uni_final_sql("ucounts2", "ufinal")},
    allwords AS MATERIALIZED (
      SELECT CASE WHEN doc_id % 5 = 0 THEN 'holdout' ELSE 'train' END
               AS split,
             lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY 1, 2, 3
    ),
    evalwords AS MATERIALIZED (
      SELECT DISTINCT w, CAST(1 AS BIGINT) AS freq FROM allwords
    ),
    ufinal2 AS MATERIALIZED (
      SELECT piece, cnt FROM ufinal
      UNION ALL
      SELECT piece, CAST(1 AS BIGINT) AS cnt
      FROM (SELECT DISTINCT substring(w, r.i, 1) AS piece
            FROM evalwords, unnest(range(1, len(w) + 1)) AS r(i))
      ANTI JOIN ufinal USING (piece)
    ),
    {_uni_costs_sql("ufinal2", "ucostsF")},
    {_uni_seg_sql("evalwords", "ucostsF", "usegF")}
    SELECT a.split, a.lang,
           CAST(SUM(a.cnt) AS BIGINT) AS n_instances,
           CAST(SUM(a.cnt * len(s.pieces)) AS BIGINT) AS uni_pieces,
           ROUND(CAST(SUM(a.cnt * len(s.pieces)) AS DOUBLE) / SUM(a.cnt), 6)
             AS uni_fertility
    FROM allwords a JOIN usegF s ON a.w = s.w
    GROUP BY a.split, a.lang
    ORDER BY a.split, a.lang
    """


@register(
    "unigram_holdout_fertility",
    _UNI_HOLDOUT_SQL,
    doc="UNIGRAM-LM GENERALIZATION — the bpe_holdout_fertility twin for "
    "the other tokenizer family: the piece table trains ONLY on the "
    "80% hash split (doc_id % 5 <> 0), unseen single chars of the "
    "eval vocabulary are appended at floor count (UNK coverage, the "
    "standard char fallback), then BOTH splits segment under the "
    "trained costs and per-(split, lang) fertility is reported side "
    "by side — held-out fertility materially above train fertility "
    "means memorized whole words, not reusable subwords.  The "
    "quality gate (tests/test_quality_gates.py) compares it against "
    "the BPE number on the same split.  Same vocab-sized shapes as "
    "unigram_lm_train; apply is one Viterbi pass over the distinct "
    "eval vocabulary.",
)
def unigram_holdout_fertility(spark, sf_dir):
    def build():
        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        final = _uni_final_cached(spark, sf_dir, "train80")
        lv = (
            spread(docs)
            .select(
                F.when(F.col("doc_id") % 5 == 0, "holdout")
                .otherwise("train")
                .alias("split"),
                "lang",
                F.explode(F.split("text", " ")).alias("w"),
            )
            .filter(F.col("w") != "")
            .groupBy("split", "lang", "w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        evalwords = lv.select("w").distinct().withColumn(
            "freq", F.lit(1).cast("bigint")
        )
        eval_singles = (
            evalwords.select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(w)),"
                        " i -> substring(w, i, 1))"
                    )
                ).alias("piece")
            )
            .distinct()
            .join(final, "piece", "left_anti")
            .select("piece", F.lit(1).cast("bigint").alias("cnt"))
        )
        costs = UNI.piece_costs(final.unionByName(eval_singles))
        seg = UNI.segment_words(evalwords, costs).select(
            "w", F.size("pieces").alias("n_pieces")
        )
        return (
            lv.join(F.broadcast(seg), "w")
            .groupBy("split", "lang")
            .agg(
                F.sum("cnt").cast("bigint").alias("n_instances"),
                F.sum(F.col("cnt") * F.col("n_pieces"))
                .cast("bigint")
                .alias("uni_pieces"),
                F.round(
                    F.sum(F.col("cnt") * F.col("n_pieces")).cast("double")
                    / F.sum("cnt"),
                    6,
                ).alias("uni_fertility"),
            )
        )

    return _holdout_cached(spark, sf_dir, "unigram", build)


# --- WordPiece trainer (Schuster & Nakajima 2012; BERT's tokenizer) --------
#
# Third tokenizer family beside BPE (bpe_merge_loop) and unigram-LM
# (unigram_lm_train).  Identical vocab-collapse + leftmost-non-overlapping
# merge fold as BPE — the ONLY difference is the merge-selection criterion:
# WordPiece picks the pair maximizing the training-corpus likelihood gain
# count(ab) / (count(a) * count(b)), i.e. pointwise mutual information up
# to constants, instead of raw pair frequency.  The score is carried in the
# LOG domain, ln n - ln fa - ln fb (monotone, same argmax): the raw ratio
# would multiply two BIGINT symbol frequencies, which at 100 TB corpus scale
# (f ~ 1e12) overflows int64 — non-ANSI Spark wraps silently while DuckDB
# raises, so the engines would diverge — and ROUND(ratio, 12) flushes
# sub-1e-12 scores to 0, collapsing the argmax to lexicographic order on
# large corpora; ln keeps magnitude ~[-60, 0] where a 12-decimal round is
# scale-independent (double ulp there is ~1e-14).  ln is one libm call per
# PAIR-VOCAB row on both engines, rounded at 12 for a stable
# (score DESC, a, b) argmax.


def _wp_round_sql(r: int) -> str:
    """One WordPiece training round: symbol frequencies + pair counts +
    likelihood-score argmax + the shared BPE merge fold.  Tops are
    MATERIALIZED — each is referenced by both the next round's fold and
    the final union (the 2^rounds inlining lesson)."""
    prev = f"wsyms{r - 1}"
    return f"""
    wsymfreq{r} AS (
      SELECT s AS sym, CAST(SUM(cnt) AS BIGINT) AS f
      FROM (SELECT unnest(syms) AS s, cnt FROM {prev})
      GROUP BY s
    ),
    wpairs{r} AS (
      SELECT syms[r.i] AS a, syms[r.i + 1] AS b, cnt
      FROM {prev}, unnest(range(1, len(syms))) AS r(i)
    ),
    wcounts{r} AS (
      SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS n FROM wpairs{r} GROUP BY a, b
    ),
    wtop{r} AS MATERIALIZED (
      SELECT c.a, c.b, c.n,
             ROUND(ln(c.n) - ln(fa.f) - ln(fb.f), 12) AS score
      FROM wcounts{r} c
      JOIN wsymfreq{r} fa ON fa.sym = c.a
      JOIN wsymfreq{r} fb ON fb.sym = c.b
      ORDER BY score DESC, c.a, c.b LIMIT 1
    ),
    wsyms{r} AS ({_bpe_fold_sql(prev, f'wtop{r}')})"""


@register(
    "wordpiece_merge_loop",
    f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    wsyms0 AS (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(_wp_round_sql(r) for r in (1, 2, 3))}
    SELECT 1 AS step, a || '+' || b AS pair, a || b AS merged, n, score
    FROM wtop1
    UNION ALL
    SELECT 2, a || '+' || b, a || b, n, score FROM wtop2
    UNION ALL
    SELECT 3, a || '+' || b, a || b, n, score FROM wtop3
    ORDER BY step
    """,
    doc="WORDPIECE tokenizer trainer (Schuster & Nakajima 2012; the BERT "
    "tokenizer) — third tokenizer family beside bpe_merge_loop and "
    "unigram_lm_train, sharing BPE's exact dataflow (corpus collapses "
    "ONCE to the frequency-weighted word vocab; every round is "
    "vocab-sized) but selecting merges by LIKELIHOOD GAIN "
    "score(a,b) = ln count(ab) - ln count(a) - ln count(b) — the log of "
    "count(ab)/(count(a)*count(b)), frequency normalized "
    "by both parts' unigram mass, so rare-but-cohesive pairs win over "
    "merely-common ones (PMI up to constants).  Per round: symbol "
    "frequencies and adjacent-pair counts (both map-side-combinable, "
    "shuffle bounded by symbol/pair vocabulary), score carried in the "
    "LOG domain ln n - ln fa - ln fb (pure DOUBLE arithmetic — the raw "
    "ratio's int64 fa*fb product overflows at corpus scale; identical "
    "IEEE double both engines, ROUND 12, same argmax by monotonicity), "
    "deterministic (score DESC, a, b) argmax, then the SAME "
    "leftmost-non-overlapping merge fold bpe_merge_loop uses (one "
    "shared implementation — drift-proof).  The emitted merge table "
    "carries n AND score so the two families' picks are directly "
    "comparable on the same corpus",
)
def wordpiece_merge_loop(spark, sf_dir):
    tops = _wp_tops_cached(spark, sf_dir, "full")
    outs = [
        top.select(
            F.lit(step).alias("step"),
            F.concat_ws("+", "a", "b").alias("pair"),
            F.concat("a", "b").alias("merged"),
            F.col("n").cast("bigint").alias("n"),
            F.col("score").alias("score"),
        )
        for step, top in enumerate(tops, start=1)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("step")


def _wp_train_tops(docs, rounds=3):
    """WordPiece training loop: _bpe_train_tops with the likelihood-gain
    argmax.  Merge fold, vocab collapse, and localCheckpoint lineage
    truncation are shared with BPE (one fold implementation — the
    apply/train drift lesson); only the per-round winner selection
    differs."""
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = vocab.select(
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    )
    tops = []
    for _ in range(rounds):
        symfreq = (
            syms.select(F.explode("syms").alias("sym"), "cnt")
            .groupBy("sym")
            .agg(F.sum("cnt").cast("bigint").alias("f"))
        )
        pairs = syms.select(
            "cnt",
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) < 2 "
                    "THEN CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) "
                    "ELSE transform(sequence(1, size(syms) - 1), "
                    "i -> named_struct('a', element_at(syms, i), "
                    "'b', element_at(syms, i + 1))) END"
                )
            ).alias("e"),
        )
        counts = pairs.groupBy(
            F.col("e.a").alias("a"), F.col("e.b").alias("b")
        ).agg(F.sum("cnt").cast("bigint").alias("n"))
        fa = symfreq.select(F.col("sym").alias("a"), F.col("f").alias("fa"))
        fb = symfreq.select(F.col("sym").alias("b"), F.col("f").alias("fb"))
        scored = (
            counts.join(F.broadcast(fa), "a")
            .join(F.broadcast(fb), "b")
            .select(
                "a",
                "b",
                "n",
                F.round(
                    F.log("n") - F.log("fa") - F.log("fb"), 12
                ).alias("score"),
            )
        )
        top = (
            scored.orderBy(F.desc("score"), "a", "b").limit(1).localCheckpoint()
        )
        tops.append(top)
        syms = syms.crossJoin(F.broadcast(top.select("a", "b"))).select(
            "cnt", F.expr(_BPE_MERGE_EXPR).alias("syms")
        )
    return tops


# --- CCNet perplexity buckets (Wenzek et al. 2020, LREC) --------------------


def _lang_ntile3(doc_scores, score_col="score"):
    """Per-language NTILE(3) of doc scores with NO per-language global
    window — the ccnet_perplexity_buckets machinery, factored so the
    Kneser-Ney re-cut tiles through the identical fold: ordered_positions
    range-partitions on (lang, score, doc_id) so each language occupies a
    contiguous gpos run; the per-language position is gpos minus the
    language's broadcast prefix offset (a window over O(langs) rows);
    the bucket is the all-integer NTILE size formula (first n%3 tiles
    get n/3+1 rows).  Input (doc_id, lang, score_col); output the same
    plus ``tile`` (1..3).  The input is localCheckpoint-pinned: THREE
    lineages consume it (the position fold's two internal consumers +
    the language-count offsets) and would otherwise re-run the scoring
    chain from the raw scan (measured 9 parquet scans -> 1; 10.6 s ->
    3.5 s at the 10x corpus)."""
    from pyspark.sql.window import Window

    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    doc_scores = doc_scores.localCheckpoint(eager=False)
    pos = ordered_positions(
        doc_scores, [("lang", True), (score_col, True), ("doc_id", True)]
    )
    lcnt = doc_scores.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    off_w = Window.orderBy("lang").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = lcnt.select(
        "lang",
        "n_l",
        F.coalesce(F.sum("n_l").over(off_w), F.lit(0)).alias("off"),
    )
    staged = pos.join(F.broadcast(offs), "lang").withColumn(
        "lpos", F.col("gpos") - F.col("off")
    )
    # NTILE(3) closed form on the 1-based per-language position (the
    # curriculum_quality_stages integer formula with n = n_l, k = 3).
    tile = F.expr(
        "CAST(CASE WHEN lpos <= (n_l % 3) * (n_l DIV 3 + 1) "
        "THEN (lpos + (n_l DIV 3)) DIV (n_l DIV 3 + 1) "
        "ELSE (n_l % 3) + (lpos - (n_l % 3) * (n_l DIV 3 + 1) "
        "+ (n_l DIV 3) - 1) DIV (n_l DIV 3) END AS INT)"
    )
    return staged.select(
        "doc_id", "lang", F.col(score_col), tile.alias("tile")
    )


@register(
    "ccnet_perplexity_buckets",
    """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    lm AS (
      SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY lang, tok
    ),
    tot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS vocab
      FROM lm GROUP BY lang
    ),
    scored_tok AS (
      SELECT t.doc_id, t.lang,
             ROUND(-ln((lm.cnt + 1)
                       / CAST(tot.total + tot.vocab AS DOUBLE)), 12) AS nll
      FROM toks t
      JOIN lm ON t.lang = lm.lang AND t.tok = lm.tok
      JOIN tot ON t.lang = tot.lang
    ),
    doc_scores AS (
      SELECT doc_id, lang,
             ROUND(CAST(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE) / COUNT(*), 6) AS score
      FROM scored_tok GROUP BY doc_id, lang
    ),
    ranked AS (
      SELECT lang, score,
             NTILE(3) OVER (PARTITION BY lang ORDER BY score, doc_id)
               AS tile
      FROM doc_scores
    )
    SELECT lang,
           CAST(tile AS INT) AS tile,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(score AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*), 6) AS avg_nll,
           MIN(score) AS min_nll,
           MAX(score) AS max_nll
    FROM ranked
    GROUP BY lang, tile
    ORDER BY lang, tile
    """,
    doc="CCNet head/middle/tail perplexity buckets (Wenzek et al. 2020 "
    "— the published CommonCrawl curation recipe): per language, every "
    "document's unigram-LM mean NLL (lm_perplexity_score's add-1 "
    "model) orders the corpus and the language splits into three "
    "EQUAL-COUNT buckets — head (lowest perplexity, cleanest), middle, "
    "tail (usual drop candidates).  Scale shape: per-language NTILE(3) "
    "is reproduced BIT-EXACTLY with no per-language global window — "
    "ordered_positions range-partitions on (lang, score, doc_id) so "
    "each language occupies a contiguous gpos run, the per-language "
    "position is gpos minus the language's broadcast prefix offset "
    "(a window over 5 rows), and the bucket is the all-integer NTILE "
    "size formula (first n%3 tiles get n/3+1 rows) — the "
    "curriculum_quality_stages discipline, grouped.  No row funnels "
    "through one task at any corpus size",
)
def ccnet_perplexity_buckets(spark, sf_dir):
    dec = "decimal(38,12)"
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    doc_scores = _doc_mean_nll(
        _uni_add1_nll(_tok_stream(docs)), out="score"
    )
    n = F.count(F.lit(1))
    return (
        _lang_ntile3(doc_scores).select("lang", "score", "tile")
        .groupBy("lang", "tile")
        .agg(
            n.cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("score").cast(dec)).cast("double") / n, 6
            ).alias("avg_nll"),
            F.min("score").alias("min_nll"),
            F.max("score").alias("max_nll"),
        )
        .select(
            "lang",
            "tile",
            F.expr(
                "CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' "
                "ELSE 'tail' END"
            ).alias("bucket"),
            "n_docs",
            "avg_nll",
            "min_nll",
            "max_nll",
        )
        .orderBy("lang", "tile")
    )


# --- distinct-n diversity (Li et al. 2016, NAACL) ---------------------------


def _dndiv_leg_sql(n: int) -> str:
    sh = shingles_sql("text", n)
    return f"""
    SELECT lang, {n} AS n, g.gram
    FROM documents, unnest({sh}) AS g(gram)"""


@register(
    "distinct_n_diversity",
    f"""
    WITH grams AS (
      SELECT lang, 1 AS n, unnest(string_split(text, ' ')) AS gram
      FROM documents
      UNION ALL{_dndiv_leg_sql(2)}
      UNION ALL{_dndiv_leg_sql(3)}
    )
    SELECT lang, CAST(n AS INT) AS n,
           CAST(COUNT(*) AS BIGINT) AS total_ngrams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
           ROUND(COUNT(DISTINCT gram) / COUNT(*), 6) AS distinct_ratio
    FROM grams
    GROUP BY lang, n
    ORDER BY lang, n
    """,
    doc="DISTINCT-N DIVERSITY (Li et al. 2016's distinct-1/2/3, applied "
    "as a corpus-health gauge): per language and n-gram order 1..3, the "
    "ratio of distinct n-grams to total n-grams — the standard "
    "mode-collapse / templated-content detector (synthetic or "
    "boilerplate-heavy slices crater distinct-2 and distinct-3 long "
    "before exact dedup fires, because the repetition is sub-document). "
    "Complements novel_ngram_growth (which tracks arrival order) with "
    "the order-free saturation number.  Dataflow: the three n-gram "
    "streams are scan-side projections (with_shingles — one token-array "
    "reference per shingle) unioned before ONE aggregate; COUNT "
    "DISTINCT shuffles (lang, n, gram) partials, so shuffle mass is "
    "n-gram VOCABULARY, not corpus volume, and the result is 15 rows. "
    "The exact distinct is the point at profile granularity; the HLL "
    "twin for per-window monitoring already exists "
    "(streaming_fm_distinct_ingest)",
)
def distinct_n_diversity(spark, sf_dir):
    from newyork_taxi_etl_spark.functions.text import with_shingles

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    legs = []
    for n in (1, 2, 3):
        if n == 1:
            g = docs.select(
                "lang",
                F.lit(1).alias("n"),
                F.explode(F.split("text", " ")).alias("gram"),
            )
        else:
            g = with_shingles(docs, "text", n, "sh").select(
                "lang", F.lit(n).alias("n"), F.explode("sh").alias("gram")
            )
        legs.append(g)
    grams = legs[0].unionAll(legs[1]).unionAll(legs[2])
    # two-level aggregate instead of count + countDistinct in one agg:
    # the mixed form plans an Expand (2x the exploded stream through the
    # shuffle); here the first groupBy map-side combines to n-gram
    # VOCABULARY cardinality before any exchange, and the second is
    # 15-keyed (measured 20.4 s -> 4.4 s at the 10x/50k-doc corpus)
    per_gram = grams.groupBy(
        "lang", F.col("n").cast("int").alias("n"), "gram"
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        per_gram.groupBy("lang", "n")
        .agg(
            F.sum("c").cast("bigint").alias("total_ngrams"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_ngrams"),
            F.round(
                F.count(F.lit(1)) / F.sum("c").cast("double"), 6
            ).alias("distinct_ratio"),
        )
        .orderBy("lang", "n")
    )


_WP_HOLDOUT_SQL = f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % 5 <> 0)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    wsyms0 AS (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(_wp_round_sql(r) for r in (1, 2, 3))},
    langvocab AS (
      SELECT doc_id % 5 = 0 AS is_val, lang, w, COUNT(*) AS cnt
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
      GROUP BY 1, lang, w
    ),
    asyms0 AS (
      SELECT is_val, lang, cnt,
             list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM langvocab
    ),
    asyms1 AS ({_bpe_fold_sql('asyms0', 'wtop1',
                              keep='s.is_val, s.lang, s.cnt')}),
    asyms2 AS ({_bpe_fold_sql('asyms1', 'wtop2',
                              keep='s.is_val, s.lang, s.cnt')}),
    asyms3 AS ({_bpe_fold_sql('asyms2', 'wtop3',
                              keep='s.is_val, s.lang, s.cnt')})
    SELECT CASE WHEN is_val THEN 'holdout' ELSE 'train' END AS split,
           lang,
           CAST(SUM(cnt) AS BIGINT) AS n_instances,
           CAST(SUM(cnt * len(syms)) AS BIGINT) AS wp_symbols,
           ROUND(CAST(SUM(cnt * len(syms)) AS DOUBLE) / SUM(cnt), 6)
             AS wp_fertility
    FROM asyms3
    GROUP BY 1, lang
    ORDER BY split, lang"""


@register(
    "wordpiece_holdout_fertility",
    _WP_HOLDOUT_SQL,
    doc="WordPiece holdout fertility — the generalization eval that "
    "completes the third tokenizer family (BPE and unigram-LM both "
    "ship theirs): likelihood-gain merges train ONLY on the 80% hash "
    "split (doc_id % 5 <> 0), both splits encode through the SAME "
    "shared leftmost-non-overlapping fold, per-(split, lang) fertility "
    "side by side.  With the same merge budget the three families' "
    "numbers are directly comparable on this corpus — the pytest gate "
    "pins WordPiece within 3x of BPE and holdout within 1.5x of train "
    "(memorization guard).  Scale identical to bpe_holdout_fertility: "
    "vocab-sized training rounds, apply once over the (split, lang, "
    "word) vocab, each 1-row merge broadcast, integer sums",
)
def wordpiece_holdout_fertility(spark, sf_dir):
    def build():
        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        tops = _wp_tops_cached(spark, sf_dir, "train80")
        lv = (
            docs.select(
                (F.col("doc_id") % 5 == 0).alias("is_val"),
                "lang",
                F.explode(F.split("text", " ")).alias("w"),
            )
            .filter(F.col("w") != "")
            .groupBy("is_val", "lang", "w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        enc = lv.select(
            "is_val",
            "lang",
            "cnt",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("syms"),
        )
        for top in tops:
            enc = enc.crossJoin(F.broadcast(top.select("a", "b"))).select(
                "is_val", "lang", "cnt", F.expr(_BPE_MERGE_EXPR).alias("syms")
            )
        return (
            enc.select(
                F.when(F.col("is_val"), "holdout").otherwise("train").alias(
                    "split"
                ),
                "lang",
                "cnt",
                F.size("syms").alias("n_syms"),
            )
            .groupBy("split", "lang")
            .agg(
                F.sum("cnt").cast("bigint").alias("n_instances"),
                F.sum(F.col("cnt") * F.col("n_syms"))
                .cast("bigint")
                .alias("wp_symbols"),
                F.round(
                    F.sum(F.col("cnt") * F.col("n_syms")).cast("double")
                    / F.sum("cnt"),
                    6,
                ).alias("wp_fertility"),
            )
        )

    return _holdout_cached(spark, sf_dir, "wordpiece", build)


# --- WordPiece greedy runtime segmentation (BERT deploy path) ---------------

from newyork_taxi_etl_spark.operators.wordpiece import (  # noqa: E402
    greedy_fold_sql_duckdb,
    greedy_segment_ctes_duckdb,
    greedy_segment_words,
    vocab_from_tops,
)

_WP_GREEDY_SQL = f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    wsyms0 AS (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(_wp_round_sql(r) for r in (1, 2, 3))},
    gwords AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    ),
    gvocab AS (
      SELECT DISTINCT substring(w, i.i, 1) AS piece
      FROM gwords, unnest(range(1, length(w) + 1)) AS i(i)
      UNION
      SELECT a || b FROM wtop1
      UNION
      SELECT a || b FROM wtop2
      UNION
      SELECT a || b FROM wtop3
    ),
    {greedy_segment_ctes_duckdb('gwords', 'gvocab')}
    SELECT t.w AS w, t.freq AS freq,
           array_to_string({greedy_fold_sql_duckdb()}, ' ') AS pieces,
           CAST(len({greedy_fold_sql_duckdb()}) AS BIGINT) AS n_pieces
    FROM gwords t JOIN gbest USING (w)
    ORDER BY w
    """


@register(
    "wordpiece_greedy_segment",
    _WP_GREEDY_SQL,
    doc="WordPiece greedy longest-match RUNTIME segmentation (Schuster & "
    "Nakajima 2012; the deployed BERT tokenizer) — completes the third "
    "tokenizer family's train -> holdout-fertility -> deploy story: "
    "wordpiece_merge_loop's trained vocabulary (corpus singles + 3 "
    "likelihood-gain merges via vocab_from_tops) segments the FULL "
    "frequency-weighted word vocabulary with longest-match-first, not "
    "the training-order merge fold.  Relational runtime "
    "(operators/wordpiece.py): candidate (w, i, d) substring cells "
    "inner-join the broadcast vocabulary, best-length per position, one "
    "guarded left fold per DISTINCT word (a vocab missing a single "
    "character raises, never silently mis-segments).  Scale: the cell "
    "grid is O(|word vocab| x word_len x max_piece_len) — VOCAB-sized, "
    "never per token instance; both groupBys shuffle at most the vocab; "
    "the vocabulary (chars + merges) broadcasts.  Oracle: the identical "
    "cell-grid + positions-only chr(1)-accumulator fold in DuckDB "
    "(cross-engine equality pinned per-word in pytest, including "
    "separator-collision words)",
)
def wordpiece_greedy_segment(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.unigram import word_vocab

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    words = word_vocab(docs)
    vocab = vocab_from_tops(words, _wp_tops_cached(spark, sf_dir, "full"))
    segs = greedy_segment_words(words, vocab)
    return segs.select(
        "w",
        F.col("freq").cast("bigint").alias("freq"),
        F.array_join("pieces", " ").alias("pieces"),
        F.size("pieces").cast("bigint").alias("n_pieces"),
    ).orderBy("w")


# --- Kneser-Ney bigram LM (Kneser & Ney 1995; Chen & Goodman 1998) ----------

_KN_CTES = """
    bi AS (
      SELECT doc_id, lang,
             unnest(CASE WHEN len(string_split(text, ' ')) >= 2
               THEN list_transform(
                      range(1, len(string_split(text, ' '))),
                      i -> string_split(text, ' ')[i] || ' '
                           || string_split(text, ' ')[i + 1])
               ELSE [] END) AS bg
      FROM documents
    ),
    blm AS (SELECT lang, bg, COUNT(*) AS cnt FROM bi GROUP BY 1, 2),
    spb AS (
      SELECT lang, bg, cnt,
             string_split(bg, ' ')[1] AS w1,
             string_split(bg, ' ')[2] AS w2
      FROM blm
    ),
    c1 AS (
      SELECT lang, w1, CAST(SUM(cnt) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1f
      FROM spb GROUP BY 1, 2
    ),
    pc AS (
      SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS nprec
      FROM spb GROUP BY 1, 2
    ),
    btypes AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS ntypes FROM blm GROUP BY 1
    ),
    kn_nll AS (
      SELECT b.doc_id, b.lang,
             ROUND(-ln(((bl.cnt - CAST(0.75 AS DOUBLE)) / c.c1)
                       + ((CAST(0.75 AS DOUBLE) * c.n1f) / c.c1)
                         * (p.nprec / CAST(t.ntypes AS DOUBLE))), 12) AS nll
      FROM bi b
      JOIN blm bl ON b.lang = bl.lang AND b.bg = bl.bg
      JOIN c1 c ON b.lang = c.lang AND string_split(b.bg, ' ')[1] = c.w1
      JOIN pc p ON b.lang = p.lang AND string_split(b.bg, ' ')[2] = p.w2
      JOIN btypes t ON b.lang = t.lang
    )"""

_DOC_MEAN_DUCK = (
    "ROUND(CAST(CAST(SUM(CAST(nll AS DECIMAL(38,12))) AS VARCHAR)"
    " AS DOUBLE) / COUNT(*), 6)"
)


@register(
    "kneser_ney_lm_compare",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    uni AS (SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    utot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS vocab
      FROM uni GROUP BY lang
    ),{_KN_CTES},
    add1_nll AS (
      SELECT b.doc_id, b.lang,
             ROUND(-ln((bl.cnt + 1)
                       / CAST(c.c1 + ut.vocab AS DOUBLE)), 12) AS nll
      FROM bi b
      JOIN blm bl ON b.lang = bl.lang AND b.bg = bl.bg
      JOIN c1 c ON b.lang = c.lang AND string_split(b.bg, ' ')[1] = c.w1
      JOIN utot ut ON b.lang = ut.lang
    ),
    da AS (
      SELECT doc_id, lang, {_DOC_MEAN_DUCK} AS s
      FROM add1_nll GROUP BY 1, 2
    ),
    dk AS (
      SELECT doc_id, lang, {_DOC_MEAN_DUCK} AS s
      FROM kn_nll GROUP BY 1, 2
    )
    SELECT da.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(CAST(da.s AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*), 6) AS avg_nll_add1,
           ROUND(CAST(CAST(SUM(CAST(dk.s AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*), 6) AS avg_nll_kn,
           ROUND(CAST(CAST(SUM(CAST(da.s AS DECIMAL(38,12))) AS VARCHAR)
                      AS DOUBLE) / COUNT(*)
                 - CAST(CAST(SUM(CAST(dk.s AS DECIMAL(38,12))) AS VARCHAR)
                        AS DOUBLE) / COUNT(*), 6) AS nll_reduction
    FROM da JOIN dk ON da.doc_id = dk.doc_id AND da.lang = dk.lang
    GROUP BY da.lang
    ORDER BY da.lang
    """,
    doc="INTERPOLATED KNESER-NEY bigram LM vs the add-1 bigram baseline "
    "(Kneser & Ney 1995; the Chen & Goodman 1998 comparison, run as a "
    "query): P_KN(w2|w1) = (C(w1w2)-D)/C(w1.) + D*N1+(w1.)/C(w1.) * "
    "N1+(.w2)/N1+(..), D=0.75 — absolute discounting with the "
    "CONTINUATION unigram (how many contexts a word completes, not how "
    "often it occurs; the reason 'Francisco' stops stealing mass from "
    "novel continuations).  Both legs score the same in-sample bigram "
    "stream through the shared _doc_mean_nll fold; per-language mean "
    "doc NLL side by side with the reduction (positive = KN assigns "
    "the corpus higher likelihood than add-1, the expected direction "
    "— measured, not assumed; the pytest gate pins it positive for "
    "every language).  Scale: two extra vocab-sized aggregates "
    "(continuation counts) beyond the add-1 tables, all lang x vocab "
    "broadcasts onto the exploded bigram stream — the 100 TB shape is "
    "identical to bigram_lm_compare",
)
def kneser_ney_lm_compare(spark, sf_dir):
    dec = "decimal(38,12)"
    # both per-doc score tables come from the shared stage cache (r16):
    # the add-1 bigram baseline is bigram_lm_compare's leg and the KN
    # scores are ccnet_kn_bucket_agreement's second cut — each scoring
    # chain runs once per process instead of twice
    da = _doc_nll_cached(spark, sf_dir, "bi_add1", out="sa")
    dk = _doc_nll_cached(spark, sf_dir, "kn", out="sk")
    avg_a = F.sum(F.col("sa").cast(dec)).cast("double") / F.count(F.lit(1))
    avg_k = F.sum(F.col("sk").cast(dec)).cast("double") / F.count(F.lit(1))
    return (
        da.join(dk, ["doc_id", "lang"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(avg_a, 6).alias("avg_nll_add1"),
            F.round(avg_k, 6).alias("avg_nll_kn"),
            F.round(avg_a - avg_k, 6).alias("nll_reduction"),
        )
        .orderBy("lang")
    )


@register(
    "ccnet_kn_bucket_agreement",
    f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    uni AS (SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
    utot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS vocab
      FROM uni GROUP BY lang
    ),{_KN_CTES},
    uni_nll AS (
      SELECT t.doc_id, t.lang,
             ROUND(-ln((u.cnt + 1)
                       / CAST(ut.total + ut.vocab AS DOUBLE)), 12) AS nll
      FROM toks t
      JOIN uni u ON t.lang = u.lang AND t.tok = u.tok
      JOIN utot ut ON t.lang = ut.lang
    ),
    du AS (
      SELECT doc_id, lang, {_DOC_MEAN_DUCK} AS su
      FROM uni_nll GROUP BY 1, 2
    ),
    dk AS (
      SELECT doc_id, lang, {_DOC_MEAN_DUCK} AS sk
      FROM kn_nll GROUP BY 1, 2
    ),
    paired AS (
      SELECT du.doc_id, du.lang, du.su, dk.sk
      FROM du JOIN dk ON du.doc_id = dk.doc_id AND du.lang = dk.lang
    ),
    tiled AS (
      SELECT doc_id, lang,
             NTILE(3) OVER (PARTITION BY lang ORDER BY su, doc_id)
               AS tile_add1,
             NTILE(3) OVER (PARTITION BY lang ORDER BY sk, doc_id)
               AS tile_kn
      FROM paired
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM tiled)
    SELECT CAST(tile_add1 AS INT) AS tile_add1,
           CASE tile_add1 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket_add1,
           CAST(tile_kn AS INT) AS tile_kn,
           CASE tile_kn WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket_kn,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(COUNT(*) / CAST(tot.nt AS DOUBLE), 6) AS share
    FROM tiled, tot
    GROUP BY tile_add1, tile_kn, tot.nt
    ORDER BY tile_add1, tile_kn
    """,
    doc="CCNet BUCKET MIGRATION under the model upgrade — "
    "ccnet_perplexity_buckets re-cut with the interpolated Kneser-Ney "
    "bigram score and cross-tabulated against the published add-1 "
    "unigram cut: (add1 bucket x KN bucket) doc counts and corpus "
    "shares.  The diagonal mass answers the operational question a "
    "curation team asks before swapping the quality LM ('how many "
    "head docs does the better model demote?') with a measured table "
    "instead of a guess.  Both cuts tile through the SAME "
    "_lang_ntile3 range-partitioned fold (no per-language global "
    "window at any corpus size) over the SAME restricted universe "
    "(docs with >= 2 tokens — KN needs a bigram); ties break by "
    "doc_id on both engines.  Output is O(9) rows",
)
def ccnet_kn_bucket_agreement(spark, sf_dir):
    # both per-doc score tables come from the shared stage cache (r16,
    # r15 verdict item 2): the unigram cut is bigram_lm_compare's
    # baseline leg and the KN scores are kneser_ney_lm_compare's — the
    # parquet-backed stage replaces the in-plan localCheckpoint pin
    # (each chain runs once per process; both tilings read the tiny
    # score table)
    du = _doc_nll_cached(spark, sf_dir, "uni_add1", out="su")
    dk = _doc_nll_cached(spark, sf_dir, "kn", out="sk")
    # no pin needed anymore: both tilings re-join two TINY cached parquet
    # tables (the r15 localCheckpoint pinned the full scoring chains)
    both = du.join(dk, ["doc_id", "lang"])
    tu = _lang_ntile3(both.select("doc_id", "lang", "su"), "su").select(
        "doc_id", "lang", F.col("tile").alias("tile_add1")
    )
    tk = _lang_ntile3(both.select("doc_id", "lang", "sk"), "sk").select(
        "doc_id", "lang", F.col("tile").alias("tile_kn")
    )
    j = tu.join(tk, ["doc_id", "lang"])
    tot = j.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    bucket = "CASE {c} WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"
    return (
        j.groupBy("tile_add1", "tile_kn")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "tile_add1",
            F.expr(bucket.format(c="tile_add1")).alias("bucket_add1"),
            "tile_kn",
            F.expr(bucket.format(c="tile_kn")).alias("bucket_kn"),
            "n_docs",
            F.round(
                F.col("n_docs") / F.col("nt").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("tile_add1", "tile_kn")
    )


_WP_DRIFT_SQL = f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    wsyms0 AS (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(_wp_round_sql(r) for r in (1, 2, 3))},
    gwords AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    ),
    gvocab AS (
      SELECT DISTINCT substring(w, i.i, 1) AS piece
      FROM gwords, unnest(range(1, length(w) + 1)) AS i(i)
      UNION
      SELECT a || b FROM wtop1
      UNION
      SELECT a || b FROM wtop2
      UNION
      SELECT a || b FROM wtop3
    ),
    {greedy_segment_ctes_duckdb('gwords', 'gvocab')},
    gseg AS (
      SELECT t.w, len({greedy_fold_sql_duckdb()}) AS g_syms
      FROM gwords t JOIN gbest USING (w)
    ),
    langvocab AS (
      SELECT lang, w, COUNT(*) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
      GROUP BY 1, 2
    ),
    asyms0 AS (
      SELECT lang, cnt, w,
             list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM langvocab
    ),
    asyms1 AS ({_bpe_fold_sql('asyms0', 'wtop1', keep='s.lang, s.cnt, s.w')}),
    asyms2 AS ({_bpe_fold_sql('asyms1', 'wtop2', keep='s.lang, s.cnt, s.w')}),
    asyms3 AS ({_bpe_fold_sql('asyms2', 'wtop3', keep='s.lang, s.cnt, s.w')}),
    fold_lang AS (
      SELECT lang,
             CAST(SUM(cnt) AS BIGINT) AS n_instances,
             ROUND(CAST(SUM(cnt * len(syms)) AS DOUBLE) / SUM(cnt), 6)
               AS fold_fertility
      FROM asyms3 GROUP BY lang
    ),
    greedy_lang AS (
      SELECT lv.lang,
             ROUND(CAST(SUM(lv.cnt * g.g_syms) AS DOUBLE) / SUM(lv.cnt), 6)
               AS greedy_fertility
      FROM langvocab lv JOIN gseg g ON lv.w = g.w
      GROUP BY lv.lang
    )
    SELECT f.lang, f.n_instances, f.fold_fertility, g.greedy_fertility,
           ROUND(f.fold_fertility - g.greedy_fertility, 6)
             AS fertility_delta
    FROM fold_lang f JOIN greedy_lang g ON f.lang = g.lang
    ORDER BY f.lang
    """


@register(
    "wordpiece_runtime_drift",
    _WP_DRIFT_SQL,
    doc="TRAIN/DEPLOY TOKENIZER DRIFT — the same WordPiece vocabulary "
    "encoded two ways, side by side per language: the trainer's "
    "merge-ORDER fold (apply merges in training sequence — what "
    "wordpiece_holdout_fertility measures) vs the deployed BERT "
    "runtime's greedy longest-match against the FINAL vocabulary "
    "(wordpiece_greedy_segment's operator).  The two disagree whenever "
    "a later merge's output overlaps an earlier merge's span, and the "
    "fertility delta is the measured cost of shipping a runtime that "
    "differs from the trainer — the drift every tokenizer deployment "
    "quietly carries (HuggingFace vs SentencePiece encodings of the "
    "same vocab differ exactly this way).  Both legs run once per "
    "DISTINCT (lang, word); the greedy leg segments each distinct word "
    "ONCE globally and joins back by word.  All vocab-sized; merges "
    "broadcast",
)
def wordpiece_runtime_drift(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.unigram import word_vocab

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    tops = _wp_tops_cached(spark, sf_dir, "full")
    wv = word_vocab(docs)
    vocab = vocab_from_tops(wv, tops)
    gseg = greedy_segment_words(wv, vocab).select(
        "w", F.size("pieces").alias("g_syms")
    )
    lv = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    enc = lv.select(
        "lang",
        "cnt",
        "w",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    )
    for top in tops:
        enc = enc.crossJoin(F.broadcast(top.select("a", "b"))).select(
            "lang", "cnt", "w", F.expr(_BPE_MERGE_EXPR).alias("syms")
        )
    fold_lang = enc.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n_instances"),
        F.round(
            F.sum(F.col("cnt") * F.size("syms")).cast("double")
            / F.sum("cnt"),
            6,
        ).alias("fold_fertility"),
    )
    greedy_lang = (
        lv.join(gseg, "w")
        .groupBy("lang")
        .agg(
            F.round(
                F.sum(F.col("cnt") * F.col("g_syms")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("greedy_fertility")
        )
    )
    return (
        fold_lang.join(greedy_lang, "lang")
        .select(
            "lang",
            "n_instances",
            "fold_fertility",
            "greedy_fertility",
            F.round(
                F.col("fold_fertility") - F.col("greedy_fertility"), 6
            ).alias("fertility_delta"),
        )
        .orderBy("lang")
    )


# --- quality-rule funnel (Gopher rules, Rae et al. 2021 Appendix A) ---------

#: (rule, spark/duck boolean over the token-stats row) — ONE ordered list so
#: the funnel stages cannot drift between engines; all six stats derive from
#: the split token array
_QR_RULES = [
    ("token_count_bounds", "n_tokens BETWEEN 20 AND 80"),
    ("mean_word_len_bounds", "mean_wl BETWEEN 3.0 AND 8.0"),
    ("type_token_ratio_floor", "ttr >= 0.5"),
    ("char_count_bounds", "n_chars BETWEEN 100 AND 600"),
    ("max_word_len_cap", "max_wl <= 15"),
]


def _qr_stage_rows_sql() -> str:
    rows = []
    passed = []
    for i, (rule, cond) in enumerate(_QR_RULES, start=1):
        prefix = " AND ".join(passed) if passed else "TRUE"
        rows.append(f"""
      SELECT {i} AS stage, '{rule}' AS rule,
             CAST(SUM(CASE WHEN NOT ({cond}) THEN 1 ELSE 0 END) AS BIGINT)
               AS failed_alone,
             CAST(SUM(CASE WHEN ({prefix}) AND NOT ({cond})
                      THEN 1 ELSE 0 END) AS BIGINT) AS killed_at_stage,
             CAST(SUM(CASE WHEN ({prefix}) AND ({cond})
                      THEN 1 ELSE 0 END) AS BIGINT) AS survivors
      FROM qstats""")
        passed.append(f"({cond})")
    return "\n      UNION ALL\n".join(rows)


def _qr_stats(docs):
    """Per-doc quality stats for the rule funnel — ONE pass derives all
    five rule inputs from the split token array."""
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        (
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
            ).cast("double")
            / F.size(toks)
        ).alias("mean_wl"),
        F.array_max(F.transform(toks, F.length)).alias("max_wl"),
        (
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        ).alias("ttr"),
    )


def _qr_stage_counts(qstats):
    """Per-stage funnel counts over a qstats frame: (stage, rule,
    failed_alone, killed_at_stage, survivors, n_docs) — all five columns
    are per-doc-independent integer sums, so the rows are ADDITIVE
    across any partition of the corpus (the property the streaming
    ingest twin folds on)."""
    legs = []
    passed = []
    for i, (rule, cond) in enumerate(_QR_RULES, start=1):
        prefix = " AND ".join(passed) if passed else "TRUE"
        legs.append(
            qstats.agg(
                F.lit(i).alias("stage"),
                F.lit(rule).alias("rule"),
                F.sum(F.expr(f"CASE WHEN NOT ({cond}) THEN 1 ELSE 0 END"))
                .cast("bigint")
                .alias("failed_alone"),
                F.sum(
                    F.expr(
                        f"CASE WHEN ({prefix}) AND NOT ({cond}) "
                        "THEN 1 ELSE 0 END"
                    )
                )
                .cast("bigint")
                .alias("killed_at_stage"),
                F.sum(
                    F.expr(
                        f"CASE WHEN ({prefix}) AND ({cond}) "
                        "THEN 1 ELSE 0 END"
                    )
                )
                .cast("bigint")
                .alias("survivors"),
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            )
        )
        passed.append(f"({cond})")
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out


def _qr_finalize(counts):
    """Counts -> the funnel's output shape (share from the additive
    sums)."""
    return counts.select(
        "stage",
        "rule",
        "failed_alone",
        "killed_at_stage",
        "survivors",
        F.round(
            F.col("survivors") / F.col("n_docs").cast("double"), 6
        ).alias("survivor_share"),
    ).orderBy("stage")


_QR_FUNNEL_SQL = f"""
    WITH qstats AS (
      SELECT doc_id, n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(SUM(length(w)) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_wl,
             MAX(length(w)) AS max_wl,
             CAST(COUNT(DISTINCT w) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr
      FROM (SELECT doc_id, n_chars, text,
                   unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY doc_id, n_chars, text
    ),
    stages AS (
      {_qr_stage_rows_sql()}
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qstats)
    SELECT stage, rule, failed_alone, killed_at_stage, survivors,
           ROUND(survivors / CAST(tot.n AS DOUBLE), 6) AS survivor_share
    FROM stages, tot
    ORDER BY stage
    """


@register(
    "quality_rule_funnel",
    _QR_FUNNEL_SQL,
    doc="QUALITY-RULE FUNNEL (the Gopher rule-set audit, Rae et al. 2021 "
    "Appendix A; FineWeb publishes exactly this per-rule ablation): "
    "five document-quality rules — token-count bounds, mean-word-length "
    "bounds, type-token-ratio floor, char-count bounds, max-word-length "
    "cap — each reported three ways: docs failing the rule ALONE "
    "(marginal strictness), docs KILLED AT ITS STAGE of the sequential "
    "funnel (what the rule uniquely removes after its predecessors), "
    "and the running survivor count/share.  The funnel ordering is ONE "
    "shared list so the two engines cannot disagree about stages.  "
    "Scale: one pass computes all six per-doc stats (token explode -> "
    "per-doc aggregate, map-side combinable); the funnel itself is five "
    "conditional sums over that one table — no second scan, no shuffle "
    "beyond the doc aggregate",
)
def quality_rule_funnel(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    qstats = _qr_stats(docs).localCheckpoint(eager=False)
    return _qr_finalize(_qr_stage_counts(qstats))


@register(
    "streaming_quality_funnel_ingest",
    _QR_FUNNEL_SQL,
    doc="quality_rule_funnel folded AT INGEST — the seventh per-batch "
    "fold, and the first with NO build phase at all: every funnel "
    "column (failed-alone, killed-at-stage, survivors, doc count) is a "
    "per-doc-independent integer sum, so each micro-batch computes its "
    "own 5-row stage table and the state fold is plain addition, "
    "replay-guarded by the applied-batch sidecar.  The drained funnel "
    "equals the one-shot batch audit bit-for-bit under ANY slicing "
    "(integer sums commute), so the batch oracle covers every "
    "batching.  This is the shape a crawl pipeline actually monitors: "
    "per-rule kill rates updating as documents arrive, state "
    "O(rules).",
)
def streaming_quality_funnel_ingest(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from newyork_taxi_etl_spark.streaming import windows as W

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    work = tempfile.mkdtemp(prefix="nyetl_funnelingest_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return W.run_streaming_funnel_ingest(spark, docs, work)


# ---------------------------------------------------------------------------
# Readability + character-coverage (round 12, session 2): the two classic
# corpus-prep audits still missing between the quality-rule funnel (document
# gates) and the tokenizer trainers (vocabulary builders).

_READABILITY_SQL = """
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
               AS n_words,
             GREATEST(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
               AS n_sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               + len(list_filter(string_split(lower(text), ' '),
                                 t -> t <> '' AND
                                      NOT regexp_matches(t, '[aeiouy]')))
               AS n_syll
      FROM documents
    ),
    p AS (
      SELECT lang,
             CAST(ROUND(CAST(n_words AS DOUBLE) / n_sents, 12)
                  AS DECIMAL(38,12)) AS wps,
             CAST(ROUND(CAST(n_syll AS DOUBLE) / n_words, 12)
                  AS DECIMAL(38,12)) AS spw,
             CAST(ROUND(206.835
                        - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                        - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 12)
                  AS DECIMAL(38,12)) AS fre
      FROM d WHERE n_words > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(CAST(SUM(wps) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_words_per_sentence,
           ROUND(CAST(CAST(SUM(spw) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_syllables_per_word,
           ROUND(CAST(CAST(SUM(fre) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_flesch
    FROM p GROUP BY lang ORDER BY lang
    """


@register(
    "readability_scores",
    _READABILITY_SQL,
    doc="FLESCH READING-EASE per language (Flesch 1948; the readability "
    "gate CCNet/Gopher pipelines run beside perplexity): 206.835 - "
    "1.015*(words/sentences) - 84.6*(syllables/word), with the two "
    "standard corpus heuristics made explicit — sentences = count of "
    "'[.!?]+' runs with a single-sentence FALLBACK (GREATEST 1: this "
    "synthetic corpus carries no punctuation, so every doc degrades to "
    "one sentence and the words/sentence term measures document "
    "length; the pytest plants punctuated text to prove the real "
    "split), and syllables = lowercase vowel GROUPS '[aeiouy]+' plus "
    "one per vowel-less word (the min-1-syllable correction).  "
    "Engine-exactness: each per-doc term is one double division chain "
    "(identical IEEE order both engines), rounded 12 dp and "
    "DECIMAL-summed so the per-language mean is order-independent; "
    "output rounds at 6.  Scale: pure scan-side HOFs per document, "
    "shuffle is the O(langs) rollup — nothing grows with corpus size.",
)
def readability_scores(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return _readability_finalize(_readability_terms(docs))


def _readability_terms(docs):
    """Per-doc (lang, wps, spw, fre) Flesch terms as 12-dp decimals —
    pure scan-side expressions (one double division chain per term,
    identical IEEE order on both engines)."""
    dec = "decimal(38,12)"
    low = F.lower(F.col("text"))
    n_words = F.size(
        F.filter(F.split(low, " "), lambda t: t != F.lit(""))
    )
    n_sents = F.greatest(
        F.size(F.expr("regexp_extract_all(lower(text), '[.!?]+', 0)")),
        F.lit(1),
    )
    n_syll = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ) + F.size(
        F.expr(
            "filter(split(lower(text), ' '), "
            "t -> t <> '' AND NOT t rlike '[aeiouy]')"
        )
    )
    d = docs.select(
        "lang",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sents")
    spw = F.col("n_syll").cast("double") / F.col("n_words")
    fre = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    return d.select(
        "lang",
        F.round(wps, 12).cast(dec).alias("wps"),
        F.round(spw, 12).cast(dec).alias("spw"),
        F.round(fre, 12).cast(dec).alias("fre"),
    )


def _readability_finalize(terms):
    """Order-independent per-language mean of the decimal Flesch terms."""
    cnt = F.count(F.lit(1))
    return (
        terms.groupBy("lang")
        .agg(
            cnt.cast("bigint").alias("n_docs"),
            F.round(F.sum("wps").cast("double") / cnt, 6).alias(
                "avg_words_per_sentence"
            ),
            F.round(F.sum("spw").cast("double") / cnt, 6).alias(
                "avg_syllables_per_word"
            ),
            F.round(F.sum("fre").cast("double") / cnt, 6).alias(
                "avg_flesch"
            ),
        )
        .orderBy("lang")
    )


def _char_counts(docs):
    """Per-(lang, char) frequency table over lowercased non-space text —
    the ONE corpus-sized pass of the character-coverage family (and the
    additive state of its streaming twin: plain integer counts commute
    and replay-fold idempotently behind a sidecar).  The per-character
    explode is map-side; partial aggregation bounds the shuffle at
    langs x alphabet regardless of corpus size."""
    return (
        docs.select(
            "lang",
            F.explode(
                F.expr(
                    "filter(transform(sequence(1, length(lower(text))), "
                    "i -> substring(lower(text), i, 1)), c -> c <> ' ')"
                )
            ).alias("ch"),
        )
        .groupBy("lang", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _char_counts_cached(spark, sf_dir):
    """The (lang, ch, cnt) alphabet frequency table through the
    per-process stage cache (r16): char_coverage_budget and
    oov_fallback_rate each re-ran the identical corpus-sized
    per-character explode; the folded table is langs x alphabet rows of
    (string, string, bigint) — bit-exact through parquet, consumers
    window over it order-independently."""
    from newyork_taxi_etl_spark.stagecache import cached_df

    def build():
        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        return _char_counts(docs)

    return cached_df(
        spark, f"char_counts:{sf_dir}", build, n_files=1
    )


def _char_coverage_finalize(counts):
    """(lang, ch, cnt) -> the per-language coverage-budget row.  All
    windows run over the alphabet-sized frequency table, never the
    corpus; the 90% / 99.5% thresholds compare in INTEGER arithmetic
    (cum*10 >= 9*total, cum*1000 >= 995*total) so no float boundary can
    diverge across engines."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("cnt"), F.asc("ch"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("lang")
    ranked = counts.select(
        "lang",
        "ch",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("ch")))
        .alias("rn"),
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    return (
        ranked.groupBy("lang")
        .agg(
            F.max("total").cast("bigint").alias("n_chars_total"),
            F.count(F.lit(1)).cast("bigint").alias("alphabet_size"),
            F.min(
                F.when(F.col("cum") * 10 >= 9 * F.col("total"), F.col("rn"))
            )
            .cast("bigint")
            .alias("chars_for_90"),
            F.min(
                F.when(
                    F.col("cum") * 1000 >= 995 * F.col("total"), F.col("rn")
                )
            )
            .cast("bigint")
            .alias("chars_for_995"),
            F.max(F.when(F.col("rn") == 1, F.col("ch"))).alias("top_char"),
            F.round(
                F.max(F.when(F.col("rn") == 1, F.col("cnt"))).cast("double")
                / F.max("total"),
                6,
            ).alias("top_share"),
        )
        .orderBy("lang")
    )


_CHAR_COVERAGE_SQL = """
    WITH lowered AS (
      -- index into a PRECOMPUTED lowered column with the range bounded
      -- by ITS length (r12 ADVICE): bounding by len(text) while
      -- indexing lower(text) silently truncates when lower() lengthens
      -- the string (e.g. Spark lower('İ') -> 'i' + U+0307, 2 chars from
      -- 1).  NOTE the residual engine gap: Spark and DuckDB lower()
      -- themselves disagree on such codepoints (ICU full case mapping
      -- vs simple) — invisible on this corpus, documented in the
      -- registration docstring.
      SELECT lang, lower(text) AS lt FROM documents
    ),
    c AS (
      SELECT lang, substring(lt, r.i, 1) AS ch,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lowered, unnest(range(1, len(lt) + 1)) AS r(i)
      WHERE substring(lt, r.i, 1) <> ' '
      GROUP BY lang, ch
    ),
    ranked AS (
      SELECT lang, ch, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, ch ASC) AS rn,
             SUM(cnt) OVER (PARTITION BY lang
                            ORDER BY cnt DESC, ch ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS total
      FROM c
    )
    SELECT lang,
           CAST(MAX(total) AS BIGINT) AS n_chars_total,
           CAST(COUNT(*) AS BIGINT) AS alphabet_size,
           CAST(MIN(CASE WHEN cum * 10 >= 9 * total THEN rn END) AS BIGINT)
             AS chars_for_90,
           CAST(MIN(CASE WHEN cum * 1000 >= 995 * total THEN rn END)
                AS BIGINT) AS chars_for_995,
           MAX(CASE WHEN rn = 1 THEN ch END) AS top_char,
           ROUND(CAST(MAX(CASE WHEN rn = 1 THEN cnt END) AS DOUBLE)
                 / MAX(total), 6) AS top_share
    FROM ranked GROUP BY lang ORDER BY lang
    """


@register(
    "char_coverage_budget",
    _CHAR_COVERAGE_SQL,
    doc="CHARACTER-COVERAGE BUDGET per language — the SentencePiece "
    "`character_coverage` decision (Kudo & Richardson 2018) made "
    "explicit: rank characters by frequency and report how many cover "
    "90% and 99.5% of the character mass (the knob that decides which "
    "rare codepoints become <unk>/byte-fallback before BPE/Unigram/"
    "WordPiece training starts), plus alphabet size and the top "
    "character's share.  Threshold compares are INTEGER (cum*10 >= "
    "9*total) — no float boundary.  Engine note (r12 ADVICE): the "
    "oracle indexes a precomputed lowered column bounded by ITS length, "
    "since lower() can change string length (İ -> i + U+0307); Spark "
    "(ICU full case mapping) and DuckDB (simple mapping) still disagree "
    "on WHICH chars such codepoints lower to — invisible on this "
    "corpus, flagged here for non-ASCII data.  Scale: the corpus "
    "reduces map-side to the (lang, char) frequency table (langs x "
    "alphabet rows); every window runs over THAT, never over character "
    "instances.",
)
def char_coverage_budget(spark, sf_dir):
    return _char_coverage_finalize(_char_counts_cached(spark, sf_dir))


@register(
    "streaming_char_coverage_ingest",
    _CHAR_COVERAGE_SQL,
    doc="char_coverage_budget folded AT INGEST — the eighth per-batch "
    "fold (run_streaming_char_coverage_ingest): each micro-batch "
    "reduces to its own (lang, char) integer partial and the state "
    "fold is plain addition behind the applied-batch replay sidecar, "
    "so the drained budget equals the one-shot batch audit bit-for-bit "
    "under any slicing and the batch oracle covers every batching.  "
    "State O(langs x alphabet); the coverage windows run at drain time "
    "over the folded alphabet table.",
)
def streaming_char_coverage_ingest(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from newyork_taxi_etl_spark.streaming import windows as W

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    work = tempfile.mkdtemp(prefix="nyetl_charcov_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return W.run_streaming_char_coverage_ingest(
        spark, docs, work, cache_key=f"documents_charcov:{sf_dir}"
    )


_OOV_FALLBACK_SQL = """
    WITH lowered AS (
      -- precomputed lowered column, range bounded by ITS length (r12
      -- ADVICE — see _CHAR_COVERAGE_SQL for the İ-style rationale)
      SELECT lang, lower(text) AS lt FROM documents
    ),
    c AS (
      SELECT lang, substring(lt, r.i, 1) AS ch,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lowered, unnest(range(1, len(lt) + 1)) AS r(i)
      WHERE substring(lt, r.i, 1) <> ' '
      GROUP BY lang, ch
    ),
    ranked AS (
      SELECT lang, ch, cnt,
             row_number() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, ch ASC) AS rn,
             SUM(cnt) OVER (PARTITION BY lang
                            ORDER BY cnt DESC, ch ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS total
      FROM c
    ),
    cut AS (
      SELECT lang,
             MIN(CASE WHEN cum * 1000 >= 995 * total THEN rn END) AS kcut
      FROM ranked GROUP BY lang
    ),
    budget AS (
      SELECT r.lang, r.ch
      FROM ranked r JOIN cut USING (lang)
      WHERE r.rn <= cut.kcut
    ),
    tv AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY lang, tok
    ),
    tchars AS (
      SELECT t.lang, t.tok, substring(t.tok, r.i, 1) AS ch
      FROM tv t, unnest(range(1, len(t.tok) + 1)) AS r(i)
    ),
    flagged AS (
      SELECT tc.lang, tc.tok,
             MAX(CASE WHEN b.ch IS NULL THEN 1 ELSE 0 END) AS has_oov
      FROM tchars tc LEFT JOIN budget b
        ON b.lang = tc.lang AND b.ch = tc.ch
      GROUP BY tc.lang, tc.tok
    )
    SELECT t.lang,
           CAST(SUM(t.cnt) AS BIGINT) AS n_instances,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(MAX(cut.kcut) AS BIGINT) AS budget_size,
           ROUND(CAST(SUM(CASE WHEN f.has_oov = 1 THEN t.cnt ELSE 0 END)
                      AS DOUBLE) / SUM(t.cnt), 6) AS oov_instance_rate,
           ROUND(CAST(SUM(CASE WHEN f.has_oov = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_type_rate
    FROM tv t
    JOIN flagged f ON f.lang = t.lang AND f.tok = t.tok
    JOIN cut ON cut.lang = t.lang
    GROUP BY t.lang ORDER BY t.lang
    """


@register(
    "oov_fallback_rate",
    _OOV_FALLBACK_SQL,
    doc="BYTE-FALLBACK RATE under the 99.5% character budget — what "
    "char_coverage_budget's knob actually COSTS: a token containing "
    "any character outside the per-language budget will byte-fallback "
    "(or <unk>) in a SentencePiece-style tokenizer, so this reports "
    "the share of token INSTANCES and token TYPES so affected, per "
    "language.  Rare chars concentrate in rare tokens, so the "
    "instance rate is typically far below the 0.5%% char mass cut — "
    "measured, not assumed.  Scale: char counts reduce map-side to "
    "langs x alphabet; the OOV check runs over the DISTINCT (lang, "
    "token) vocabulary (vocab-sized char explode joined against the "
    "broadcast budget set), then joins back to frequency-weighted "
    "counts — no corpus-sized per-character join anywhere.",
)
def oov_fallback_rate(spark, sf_dir):
    from pyspark.sql import Window

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    counts = _char_counts_cached(spark, sf_dir)
    w_ord = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("ch"))
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = counts.select(
        "lang",
        "ch",
        F.row_number().over(w_ord).alias("rn"),
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("total"),
    )
    cut = ranked.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") * 1000 >= 995 * F.col("total"), F.col("rn"))
        ).alias("kcut")
    )
    budget = (
        ranked.join(F.broadcast(cut), "lang")
        .filter(F.col("rn") <= F.col("kcut"))
        .select("lang", "ch")
    )
    tv = (
        docs.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tchars = tv.select(
        "lang",
        "tok",
        F.explode(
            F.expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))")
        ).alias("ch"),
    )
    flagged = (
        tchars.join(
            F.broadcast(budget.withColumn("inb", F.lit(1))),
            ["lang", "ch"],
            "left",
        )
        .groupBy("lang", "tok")
        .agg(
            F.max(F.when(F.col("inb").isNull(), 1).otherwise(0)).alias(
                "has_oov"
            )
        )
    )
    oov = F.col("has_oov") == 1
    return (
        tv.join(flagged, ["lang", "tok"])
        .join(F.broadcast(cut), "lang")
        .groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_instances"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.max("kcut").cast("bigint").alias("budget_size"),
            F.round(
                F.sum(F.when(oov, F.col("cnt")).otherwise(0)).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("oov_instance_rate"),
            F.round(
                F.sum(F.when(oov, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_type_rate"),
        )
        .orderBy("lang")
    )


_SELECTION_CURVE_SQL = """
    WITH scored AS (
      SELECT doc_id,
             ROUND(
               0.4 * LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
               + 0.4 * (CAST(len(list_distinct(string_split(text, ' ')))
                             AS DOUBLE) / len(string_split(text, ' ')))
               + 0.2 * (CASE WHEN n_chars BETWEEN 100 AND 400
                             THEN 1.0 ELSE 0.0 END), 4) AS quality,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
      FROM documents
    ),
    pos AS (
      SELECT quality, ws_tokens,
             row_number() OVER (ORDER BY quality DESC, doc_id ASC) AS gpos,
             COUNT(*) OVER () AS n
      FROM scored
    ),
    dec AS (
      SELECT CAST((gpos - 1) * 10 // n + 1 AS BIGINT) AS decile,
             quality, ws_tokens
      FROM pos
    ),
    per AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ws_tokens) AS BIGINT) AS n_tokens,
             MIN(quality) AS min_quality,
             ROUND(CAST(CAST(SUM(CAST(CAST(quality AS VARCHAR)
                        AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*), 6) AS mean_quality
      FROM dec GROUP BY decile
    )
    SELECT decile, n_docs, n_tokens, min_quality, mean_quality,
           ROUND(CAST(SUM(n_tokens) OVER (ORDER BY decile
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE)
                 / SUM(n_tokens) OVER (), 6) AS cum_token_share
    FROM per ORDER BY decile
    """


@register(
    "quality_selection_curve",
    _SELECTION_CURVE_SQL,
    doc="DATA-SELECTION BUDGET CURVE — the table a curation run reads "
    "before choosing its quality threshold: documents deciled by the "
    "composite text_quality_score (best = decile 1), and per decile "
    "the doc count, token mass, quality floor, and the CUMULATIVE "
    "token share kept if selection stops there ('top 3 deciles = 31% "
    "of tokens').  Decile assignment is INTEGER arithmetic over the "
    "global position (((gpos-1)*10) div n + 1 — no float boundary), "
    "and the position comes from the ordered_positions range-"
    "partitioned fold (operators/profile.py), NOT an unpartitioned "
    "row_number — no single-task corpus sort (the zipf_token_slope / "
    "ccnet lesson).  The final cumulative window runs over 10 rows.  "
    "(quality DESC, doc_id ASC) is the unique composite sort key.",
)
def quality_selection_curve(spark, sf_dir):
    from pyspark.sql import Window

    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    quality = F.round(
        0.4 * F.least(F.size(toks) / 50.0, F.lit(1.0))
        + 0.4 * ttr
        + 0.2 * F.when(F.col("n_chars").between(100, 400), 1.0).otherwise(0.0),
        4,
    )
    scored = docs.select(
        "doc_id",
        quality.alias("quality"),
        F.size(toks).cast("bigint").alias("ws_tokens"),
    )
    pos = ordered_positions(scored, [("quality", False), ("doc_id", True)])
    n = scored.agg(F.count(F.lit(1)).alias("n"))
    dec = pos.crossJoin(F.broadcast(n)).select(
        (F.expr("(gpos - 1) * 10 div n") + 1).cast("bigint").alias("decile"),
        "quality",
        "ws_tokens",
    )
    cnt = F.count(F.lit(1))
    per = dec.groupBy("decile").agg(
        cnt.cast("bigint").alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("n_tokens"),
        F.min("quality").alias("min_quality"),
        F.round(
            F.sum(F.col("quality").cast("decimal(38,12)")).cast("double")
            / cnt,
            6,
        ).alias("mean_quality"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return per.select(
        "decile",
        "n_docs",
        "n_tokens",
        "min_quality",
        "mean_quality",
        F.round(
            F.sum("n_tokens").over(w_cum).cast("double")
            / F.sum("n_tokens").over(w_all),
            6,
        ).alias("cum_token_share"),
    ).orderBy("decile")


_HEAVY_HITTERS_SQL = """
    WITH c AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY tok
    ),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM c),
    heavy AS (
      SELECT c.tok, c.cnt, t.n_total FROM c, t
      WHERE c.cnt * 10000 >= 50 * t.n_total
    ),
    ranked AS (
      SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT)
               AS rank,
             tok, cnt,
             ROUND(CAST(cnt AS DOUBLE) / n_total, 6) AS share
      FROM heavy
    )
    SELECT rank, tok, cnt, share FROM ranked
    WHERE rank <= 20 ORDER BY rank
    """


@register(
    "streaming_heavy_hitters_ingest",
    _HEAVY_HITTERS_SQL,
    doc="PHI-HEAVY TOKENS AT INGEST — the ninth per-batch fold "
    "(run_streaming_heavy_hitters): (token, count) integer partials "
    "fold additively behind the replay sidecar; drain reports tokens "
    "whose EXACT total crosses phi=0.5% of token instances (integer "
    "compare), top-20 by (count desc, token asc).  Drained == batch "
    "bit-for-bit under any slicing (integer sums commute), so the "
    "batch oracle covers every batching.  State O(vocab) — exact is "
    "right for the bounded vocabularies this engine monitors; the "
    "CMS gate (freq_tokens_cms) is the documented bounded-state path "
    "for open vocab, with the pigeonhole per-batch-candidate "
    "prefilter noted in the runner docstring.  The rank window runs "
    "over the PHI-FILTERED set (<= 1/phi = 200 rows by algebra), "
    "never the vocabulary.",
)
def streaming_heavy_hitters_ingest(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from newyork_taxi_etl_spark.streaming import windows as W

    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    work = tempfile.mkdtemp(prefix="nyetl_hh_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    return W.run_streaming_heavy_hitters(spark, docs, work)


_HEAPS_SQL = """
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS BIGINT) AS ws
      FROM documents
    ),
    pos AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY doc_id) AS gpos,
             SUM(ws) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_ws,
             COUNT(*) OVER () AS n
      FROM d
    ),
    toks AS (
      SELECT t.tok, MIN(p.gpos) AS firstpos
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents) t
      JOIN pos p ON p.doc_id = t.doc_id
      WHERE t.tok <> ''
      GROUP BY t.tok
    ),
    cps AS (
      SELECT CAST(g.d AS BIGINT) AS decile,
             (SELECT MAX(n) FROM pos) * g.d // 10 AS p_docs
      FROM (SELECT unnest(range(1, 11)) AS d) g
    ),
    pts AS (
      -- degenerate prefixes take the SAME path on both engines (r12
      -- ADVICE): p_docs = 0 checkpoints (n_docs < 10) and zero-vocab
      -- prefixes are dropped explicitly here, mirroring the Spark
      -- side's left-join + coalesce + vocab > 0 filter — otherwise the
      -- correlated COUNT(*) would return 0 and feed ln(0) while Spark's
      -- inner join silently dropped the row.
      SELECT * FROM (
        SELECT cps.decile, cps.p_docs,
               CAST(p.cum_ws AS BIGINT) AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM toks
                 WHERE toks.firstpos <= cps.p_docs) AS vocab
        FROM cps JOIN pos p ON p.gpos = cps.p_docs
        WHERE cps.p_docs >= 1
      ) WHERE vocab > 0
    ),
    reg AS (
      SELECT COUNT(*) AS m,
             CAST(CAST(SUM(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(ROUND(ln(CAST(vocab AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE))
                                      * ln(CAST(vocab AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE))
                                      * ln(CAST(n_tokens AS DOUBLE)), 12)
                  AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT pts.decile, pts.p_docs, pts.n_tokens, pts.vocab,
           ROUND((reg.sxy - reg.sx * reg.sy / reg.m)
                 / NULLIF(reg.sxx - reg.sx * reg.sx / reg.m, 0), 6)
             AS beta_heaps,
           ROUND(exp(reg.sy / reg.m
                     - ((reg.sxy - reg.sx * reg.sy / reg.m)
                        / NULLIF(reg.sxx - reg.sx * reg.sx / reg.m, 0))
                       * reg.sx / reg.m), 6) AS k_heaps
    FROM pts CROSS JOIN reg
    ORDER BY pts.decile
    """


@register(
    "heaps_law_exponent",
    _HEAPS_SQL,
    doc="HEAPS'-LAW VOCABULARY GROWTH (Heaps 1978; V = K * N^beta) — the "
    "growth-side companion to Chao1's asymptote and the Zipf slope: "
    "vocabulary size at ten document-prefix checkpoints, with beta/K "
    "from the log-log OLS over those ten points.  Real web text runs "
    "beta ~0.4-0.6; this 31-word synthetic corpus SATURATES instantly "
    "(V flat -> beta ~0 — the honest answer, the planted pytest grows "
    "a real vocabulary and recovers beta ~0.5).  Scale: first-"
    "occurrence position per token is one corpus explode reduced to "
    "the vocab-sized MIN table; checkpoints are a 10-row broadcast; "
    "the regression runs over 10 points with 12-dp decimal-summed "
    "moments.  The doc-position fold here is the oracle's ROW_NUMBER "
    "twin kept distributed via ordered_positions (range-partitioned, "
    "never a single-task corpus sort).",
)
def heaps_law_exponent(spark, sf_dir):
    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    dec = "decimal(38,12)"
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        "text",
        F.size(
            F.filter(F.split(F.lower("text"), " "), lambda t: t != F.lit(""))
        )
        .cast("bigint")
        .alias("ws"),
    )
    pos = ordered_positions(
        d.select("doc_id", "ws"), [("doc_id", True)], cum_cols=("ws",)
    ).select("doc_id", "gpos", F.col("cum_ws").cast("bigint").alias("cum_ws"))
    n = pos.agg(F.max("gpos").alias("n"))
    toks = (
        docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .join(pos.select("doc_id", "gpos"), "doc_id")
        .groupBy("tok")
        .agg(F.min("gpos").alias("firstpos"))
    )
    cps = (
        spark.range(1, 11)
        .select(F.col("id").cast("bigint").alias("decile"))
        .crossJoin(F.broadcast(n))
        .select("decile", F.expr("n * decile div 10").alias("p_docs"))
    )
    vocab = (
        toks.join(
            F.broadcast(cps), F.col("firstpos") <= F.col("p_docs")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    # degenerate prefixes aligned cross-engine (r12 ADVICE): drop
    # p_docs = 0 checkpoints (n_docs < 10) and zero-vocab prefixes
    # EXPLICITLY — a left join + coalesce + filter — instead of relying
    # on the inner join's silent drop, which the oracle couldn't mirror
    # (its correlated COUNT(*) returns 0 and would feed ln(0)).
    pts = (
        cps.filter(F.col("p_docs") >= 1)
        .join(pos, F.col("gpos") == F.col("p_docs"))
        .join(vocab, "decile", "left")
        .select(
            "decile",
            "p_docs",
            F.col("cum_ws").alias("n_tokens"),
            F.coalesce(F.col("vocab"), F.lit(0)).cast("bigint").alias("vocab"),
        )
        .filter(F.col("vocab") > 0)
    )
    lx = F.log(F.col("n_tokens").cast("double"))
    ly = F.log(F.col("vocab").cast("double"))
    reg = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.round(lx, 12).cast(dec)).cast("double").alias("sx"),
        F.sum(F.round(ly, 12).cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(lx * ly, 12).cast(dec)).cast("double").alias("sxy"),
        F.sum(F.round(lx * lx, 12).cast(dec)).cast("double").alias("sxx"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m")) / F.nullif(
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m"), F.lit(0.0)
    )
    return (
        pts.crossJoin(F.broadcast(reg))
        .select(
            "decile",
            "p_docs",
            "n_tokens",
            "vocab",
            F.round(beta, 6).alias("beta_heaps"),
            F.round(
                F.exp(F.col("sy") / F.col("m") - beta * F.col("sx") / F.col("m")),
                6,
            ).alias("k_heaps"),
        )
        .orderBy("decile")
    )


_ZIPF_BY_SOURCE_SQL = f"""
    WITH tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY source, tok
    ),
    ranked AS (
      SELECT source, cnt,
             ROUND(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
                                              ORDER BY cnt DESC, tok)
                           AS DOUBLE)), 12) AS x,
             ROUND(ln(CAST(cnt AS DOUBLE)), 12) AS y
      FROM tf
    ),
    s AS (
      SELECT source,
             COUNT(*) AS n,
             CAST(SUM(cnt) AS BIGINT) AS n_instances,
             {dec_out_sql('SUM(CAST(x AS DECIMAL(38,12)))')} AS sx,
             {dec_out_sql('SUM(CAST(y AS DECIMAL(38,12)))')} AS sy,
             {dec_out_sql('SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12)))')}
               AS sxy,
             {dec_out_sql('SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))')}
               AS sxx
      FROM ranked GROUP BY source
    )
    SELECT source,
           CAST(n AS BIGINT) AS vocab,
           n_instances,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy)
                       / NULLIF(n * sxx - sx * sx, 0) * sx) / n, 6)
             AS intercept
    FROM s ORDER BY source
    """


@register(
    "zipf_slope_by_source",
    _ZIPF_BY_SOURCE_SQL,
    doc="ZIPF SLOPE PER SOURCE — the per-feed shape audit pairing "
    "quality_psi_by_domain's calibration drift: a feed whose ln(freq)/"
    "ln(rank) slope sits far from its peers is templated boilerplate "
    "(steep) or shredded/near-random text (flat) and should be "
    "reweighted before mixing.  The per-source rank does NOT use a "
    "source-partitioned row_number window (per-source vocab is "
    "millions of rows at 100 TB and 20 sources would shuffle-skew "
    "into 20 sort tasks): ONE ordered_positions range-partitioned "
    "fold over the composite (source, cnt DESC, tok) order gives the "
    "global position, and rank-in-source = gpos - min(gpos per "
    "source) + 1 with the 20-row offset table broadcast back.  Same "
    "12-dp decimal OLS moments as zipf_token_slope.",
)
def zipf_slope_by_source(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    return _zipf_source_stats(docs).orderBy("source")


def _zipf_source_stats(docs):
    """Per-source Zipf OLS — (source, vocab, n_instances, slope,
    intercept), unordered.  Factored (r13) so zipf_slope_by_source and
    source_growth_matrix run the IDENTICAL composite ordered_positions
    fold and float path (one range-partitioned (source, cnt DESC, tok)
    order, per-source rank via the broadcast min-gpos offset table,
    12-dp decimal OLS moments)."""
    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    dec = "decimal(38,12)"
    tf = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pos = ordered_positions(
        tf, [("source", True), ("cnt", False), ("tok", True)]
    )
    base = pos.groupBy("source").agg(F.min("gpos").alias("g0"))
    ranked = pos.join(F.broadcast(base), "source").select(
        "source",
        "cnt",
        F.round(
            F.log((F.col("gpos") - F.col("g0") + 1).cast("double")), 12
        ).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 12).alias("y"),
    )
    s = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").cast("bigint").alias("n_instances"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast(dec))
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast(dec))
        .cast("double")
        .alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (
        F.col("n"), F.col("sx"), F.col("sy"), F.col("sxy"), F.col("sxx")
    )
    den = F.nullif(n * sxx - sx * sx, F.lit(0.0))
    slope = (n * sxy - sx * sy) / den
    return s.select(
        "source",
        n.cast("bigint").alias("vocab"),
        "n_instances",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2 style; Radford et al. 2019 §2.2) — the FOURTH
# tokenizer family beside char-BPE (bpe_merge_loop), unigram-LM and
# WordPiece: merges learned over UTF-8 BYTES (hex-pair symbols), so no
# input is ever out-of-vocabulary — the <unk>-free guarantee whose need
# char_coverage_budget and oov_fallback_rate quantify.  The seeds come
# from operators/bytebpe.py (cross-engine equality + multi-byte
# round-trip pytest-pinned there); the merge loop itself is the SHARED
# leftmost-non-overlapping fold every other family uses.

from newyork_taxi_etl_spark.operators.bytebpe import (  # noqa: E402
    BYTE_SYMS_SQL,
    bytebpe_train_tops,
)


@register(
    "bytebpe_merge_loop",
    f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    syms0 AS (
      SELECT cnt, {BYTE_SYMS_SQL} AS syms FROM vocab
    ),{','.join(_bpe_round_sql(r) for r in (1, 2, 3))}
    SELECT 1 AS step, a || '+' || b AS pair, a || b AS merged, n FROM top1
    UNION ALL
    SELECT 2, a || '+' || b, a || b, n FROM top2
    UNION ALL
    SELECT 3, a || '+' || b, a || b, n FROM top3
    ORDER BY step
    """,
    doc="BYTE-LEVEL BPE TRAINING (GPT-2 style) — the merge loop seeded "
    "from each word's UTF-8 BYTE sequence as hex-pair symbols instead of "
    "its characters, completing the fourth tokenizer family: byte "
    "seeding means the base alphabet is at most 256 symbols and NO input "
    "can ever be out-of-vocabulary (the <unk>-free guarantee "
    "char_coverage_budget / oov_fallback_rate quantify the need for), "
    "with multi-byte codepoints splitting into learnable byte pairs.  "
    "Identical structure to bpe_merge_loop: corpus collapses ONCE to a "
    "frequency-weighted word vocab, each round counts adjacent symbol "
    "pairs (map-side-combinable, pair-vocabulary shuffle), takes the "
    "(n DESC, a, b) argmax and rewrites symbols with the SHARED "
    "leftmost-non-overlapping merge fold (the 1-row winner broadcasts); "
    "on this ASCII corpus the merge sequence equals char-BPE's under the "
    "char<->hex bijection (pytest-pinned honesty check) and the "
    "multi-byte path is pinned by the round-trip + Python-reference "
    "tests in tests/test_bytebpe.py.  Vocab-sized per round at 100 TB, "
    "same contract as the char trainer.",
)
def bytebpe_merge_loop(spark, sf_dir):
    tops = _bb_tops_cached(spark, sf_dir, "full")
    outs = [
        top.select(
            F.lit(step).alias("step"),
            F.concat_ws("+", "a", "b").alias("pair"),
            F.concat("a", "b").alias("merged"),
            F.col("n").cast("bigint").alias("n"),
        )
        for step, top in enumerate(tops, start=1)
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("step")


_BYTEBPE_HOLDOUT_SQL = f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % 5 <> 0)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    syms0 AS (
      SELECT cnt, {BYTE_SYMS_SQL} AS syms FROM vocab
    ),{','.join(_bpe_round_sql(r, mat=True) for r in (1, 2, 3))},
    langvocab AS (
      SELECT doc_id % 5 = 0 AS is_val, lang, w, COUNT(*) AS cnt
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
      GROUP BY 1, lang, w
    ),
    asyms0 AS (
      SELECT is_val, lang, cnt, {BYTE_SYMS_SQL} AS syms
      FROM langvocab
    ),
    asyms1 AS ({_bpe_fold_sql('asyms0', 'top1',
                              keep='s.is_val, s.lang, s.cnt')}),
    asyms2 AS ({_bpe_fold_sql('asyms1', 'top2',
                              keep='s.is_val, s.lang, s.cnt')}),
    asyms3 AS ({_bpe_fold_sql('asyms2', 'top3',
                              keep='s.is_val, s.lang, s.cnt')})
    SELECT CASE WHEN is_val THEN 'holdout' ELSE 'train' END AS split,
           lang,
           CAST(SUM(cnt) AS BIGINT) AS n_instances,
           CAST(SUM(cnt * len(syms)) AS BIGINT) AS bb_symbols,
           ROUND(CAST(SUM(cnt * len(syms)) AS DOUBLE) / SUM(cnt), 6)
             AS bb_fertility,
           ROUND(CAST(SUM(cnt * length(
                   list_reduce(syms, (a, b) -> a || b))) AS DOUBLE)
                 / 2 / SUM(cnt * len(syms)), 6) AS bytes_per_symbol
    FROM asyms3
    GROUP BY 1, lang
    ORDER BY split, lang"""


@register(
    "bytebpe_holdout_fertility",
    _BYTEBPE_HOLDOUT_SQL,
    doc="BYTE-LEVEL BPE GENERALIZATION — the held-out fertility eval of "
    "the byte trainer (bpe_holdout_fertility's twin for the fourth "
    "family): merges train ONLY on the 80% hash split (doc_id % 5 <> 0), "
    "then encode BOTH splits and report per-(split, lang) byte-BPE "
    "fertility (symbols per word instance) plus mean BYTES per symbol — "
    "the compression the byte merges bought, the byte-path number the "
    "char trainer cannot report.  Unlike char-BPE, the holdout can "
    "contain NO unrepresentable word: unmerged words fall back to raw "
    "byte symbols, never <unk> — so fertility degrades gracefully "
    "instead of failing, which is exactly the property this query "
    "measures.  Same shared training fold (operators/bytebpe.py "
    "bytebpe_train_tops -> the common merge fold) and apply fold as "
    "every tokenizer family; training is vocab-sized per round, apply "
    "runs once over the (split, lang, word) vocab with each 1-row merge "
    "broadcast; symbol/byte sums integer (the /2 halves an exact int "
    "sum), engine-exact.",
)
def bytebpe_holdout_fertility(spark, sf_dir):
    def build():
        from newyork_taxi_etl_spark.operators.bytebpe import BYTE_SYMS_EXPR

        docs = spark.read.parquet(table_path(sf_dir, "documents"))
        tops = _bb_tops_cached(spark, sf_dir, "train80")
        lv = (
            docs.select(
                (F.col("doc_id") % 5 == 0).alias("is_val"),
                "lang",
                F.explode(F.split("text", " ")).alias("w"),
            )
            .filter(F.col("w") != "")
            .groupBy("is_val", "lang", "w")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        enc = lv.select(
            "is_val", "lang", "cnt", F.expr(BYTE_SYMS_EXPR).alias("syms")
        )
        for top in tops:
            enc = enc.crossJoin(F.broadcast(top.select("a", "b"))).select(
                "is_val", "lang", "cnt", F.expr(_BPE_MERGE_EXPR).alias("syms")
            )
        n_hex = F.expr("aggregate(syms, 0L, (acc, s) -> acc + length(s))")
        return (
            enc.select(
                F.when(F.col("is_val"), "holdout").otherwise("train").alias(
                    "split"
                ),
                "lang",
                "cnt",
                F.size("syms").alias("n_syms"),
                n_hex.alias("n_hex"),
            )
            .groupBy("split", "lang")
            .agg(
                F.sum("cnt").cast("bigint").alias("n_instances"),
                F.sum(F.col("cnt") * F.col("n_syms"))
                .cast("bigint")
                .alias("bb_symbols"),
                F.round(
                    F.sum(F.col("cnt") * F.col("n_syms")).cast("double")
                    / F.sum("cnt"),
                    6,
                ).alias("bb_fertility"),
                F.round(
                    F.sum(F.col("cnt") * F.col("n_hex")).cast("double")
                    / 2
                    / F.sum(F.col("cnt") * F.col("n_syms")),
                    6,
                ).alias("bytes_per_symbol"),
            )
        )

    return _holdout_cached(spark, sf_dir, "bytebpe", build)


def _heaps_source_stats(spark, docs):
    """Per-source Heaps-law leg of source_growth_matrix: (source,
    heaps_beta, heaps_k, n_checkpoints).  ONE composite ordered_positions
    fold over (source, doc_id) with a running non-empty-token sum gives
    every source's document positions and cumulative token counts; the
    per-source decile checkpoints, first-occurrence vocab table and
    10-point log-log OLS all follow heaps_law_exponent's machinery (incl.
    its degenerate-checkpoint discipline: p_docs >= 1 and vocab > 0
    dropped explicitly).  Raw (non-lowered) tokens, matching the Zipf leg
    so both growth exponents describe the same token stream."""
    from newyork_taxi_etl_spark.operators.profile import ordered_positions

    dec = "decimal(38,12)"
    d = docs.select(
        "source",
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda t: t != F.lit(""))
        )
        .cast("bigint")
        .alias("ws"),
    )
    pos = ordered_positions(
        d, [("source", True), ("doc_id", True)], cum_cols=("ws",)
    )
    # per-source offsets off the ONE global fold: g0/g1 bound the
    # source's gpos range; cum0 = min(cum_ws - ws) is the running token
    # sum BEFORE the source's first row (cum_ws - ws is nondecreasing in
    # gpos, so the min lands on the first row)
    base = pos.groupBy("source").agg(
        F.min("gpos").alias("g0"),
        F.max("gpos").alias("g1"),
        F.min(F.col("cum_ws") - F.col("ws")).alias("cum0"),
    )
    cps = (
        base.crossJoin(
            spark.range(1, 11).select(F.col("id").cast("bigint").alias("decile"))
        )
        .select(
            "source",
            "decile",
            "cum0",
            F.expr("(g1 - g0 + 1) * decile div 10").alias("p_docs"),
            F.expr("g0 - 1 + (g1 - g0 + 1) * decile div 10").alias("gcp"),
        )
        .filter(F.col("p_docs") >= 1)
    )
    pts_base = pos.select("source", "gpos", "cum_ws").join(
        F.broadcast(cps.withColumnRenamed("source", "csource")),
        (F.col("source") == F.col("csource")) & (F.col("gpos") == F.col("gcp")),
    ).select(
        "source",
        "decile",
        "p_docs",
        "gcp",
        (F.col("cum_ws") - F.col("cum0")).cast("bigint").alias("n_tokens"),
    )
    toks = (
        docs.select(
            "source", "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .join(pos.select("doc_id", "gpos"), "doc_id")
        .groupBy("source", "tok")
        .agg(F.min("gpos").alias("firstpos"))
    )
    vocab = (
        toks.withColumnRenamed("source", "tsource")
        .join(
            F.broadcast(cps.select("source", "decile", "gcp")),
            (F.col("tsource") == F.col("source"))
            & (F.col("firstpos") <= F.col("gcp")),
        )
        .groupBy("source", "decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab"))
    )
    pts = (
        pts_base.join(vocab, ["source", "decile"], "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("vocab"), F.lit(0)).cast("bigint").alias("vocab"),
        )
        .filter(F.col("vocab") > 0)
    )
    lx = F.log(F.col("n_tokens").cast("double"))
    ly = F.log(F.col("vocab").cast("double"))
    reg = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.round(lx, 12).cast(dec)).cast("double").alias("sx"),
        F.sum(F.round(ly, 12).cast(dec)).cast("double").alias("sy"),
        F.sum(F.round(lx * ly, 12).cast(dec)).cast("double").alias("sxy"),
        F.sum(F.round(lx * lx, 12).cast(dec)).cast("double").alias("sxx"),
    )
    beta = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m")) / F.nullif(
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m"), F.lit(0.0)
    )
    return reg.select(
        "source",
        # + 0.0 normalizes IEEE -0.0 after the round (saturating sources)
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        F.round(
            F.exp(F.col("sy") / F.col("m") - beta * F.col("sx") / F.col("m")), 6
        ).alias("heaps_k"),
        F.col("m").cast("bigint").alias("n_checkpoints"),
    )


_SOURCE_GROWTH_SQL = f"""
    WITH tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY source, tok
    ),
    zr AS (
      SELECT source, cnt,
             ROUND(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
                                              ORDER BY cnt DESC, tok)
                           AS DOUBLE)), 12) AS x,
             ROUND(ln(CAST(cnt AS DOUBLE)), 12) AS y
      FROM tf
    ),
    zs AS (
      SELECT source,
             COUNT(*) AS n,
             CAST(SUM(cnt) AS BIGINT) AS n_instances,
             {dec_out_sql('SUM(CAST(x AS DECIMAL(38,12)))')} AS sx,
             {dec_out_sql('SUM(CAST(y AS DECIMAL(38,12)))')} AS sy,
             {dec_out_sql('SUM(CAST(ROUND(x * y, 12) AS DECIMAL(38,12)))')}
               AS sxy,
             {dec_out_sql('SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12)))')}
               AS sxx
      FROM zr GROUP BY source
    ),
    d AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS BIGINT) AS ws
      FROM documents
    ),
    pos AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS gpos,
             SUM(ws) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_ws,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM d
    ),
    toks AS (
      SELECT t.source, t.tok, MIN(p.gpos) AS firstpos
      FROM (SELECT source, doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) t
      JOIN pos p ON p.doc_id = t.doc_id
      WHERE t.tok <> ''
      GROUP BY t.source, t.tok
    ),
    cps AS (
      SELECT s.source, CAST(g.d AS BIGINT) AS decile, s.n * g.d // 10 AS p_docs
      FROM (SELECT source, MAX(n) AS n FROM pos GROUP BY source) s,
           (SELECT unnest(range(1, 11)) AS d) g
    ),
    pts AS (
      SELECT * FROM (
        SELECT cps.source, cps.decile,
               CAST(p.cum_ws AS BIGINT) AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM toks
                 WHERE toks.source = cps.source
                   AND toks.firstpos <= cps.p_docs) AS vocab
        FROM cps JOIN pos p
          ON p.source = cps.source AND p.gpos = cps.p_docs
        WHERE cps.p_docs >= 1
      ) WHERE vocab > 0
    ),
    hr AS (
      SELECT source, COUNT(*) AS m,
             {dec_out_sql('SUM(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)), 12) '
                          'AS DECIMAL(38,12)))')} AS sx,
             {dec_out_sql('SUM(CAST(ROUND(ln(CAST(vocab AS DOUBLE)), 12) '
                          'AS DECIMAL(38,12)))')} AS sy,
             {dec_out_sql('SUM(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) '
                          '* ln(CAST(vocab AS DOUBLE)), 12) '
                          'AS DECIMAL(38,12)))')} AS sxy,
             {dec_out_sql('SUM(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)) '
                          '* ln(CAST(n_tokens AS DOUBLE)), 12) '
                          'AS DECIMAL(38,12)))')} AS sxx
      FROM pts GROUP BY source
    )
    SELECT zs.source,
           CAST(zs.n AS BIGINT) AS vocab,
           zs.n_instances,
           -- + 0 normalizes IEEE -0.0 (a saturating source's beta rounds
           -- to the zero the engines sign differently)
           ROUND((zs.n * zs.sxy - zs.sx * zs.sy)
                 / NULLIF(zs.n * zs.sxx - zs.sx * zs.sx, 0), 6) + 0
             AS zipf_slope,
           ROUND((hr.sxy - hr.sx * hr.sy / hr.m)
                 / NULLIF(hr.sxx - hr.sx * hr.sx / hr.m, 0), 6) + 0
             AS heaps_beta,
           ROUND(exp(hr.sy / hr.m
                     - ((hr.sxy - hr.sx * hr.sy / hr.m)
                        / NULLIF(hr.sxx - hr.sx * hr.sx / hr.m, 0))
                       * hr.sx / hr.m), 6) AS heaps_k,
           CAST(hr.m AS BIGINT) AS n_checkpoints
    FROM zs JOIN hr USING (source)
    ORDER BY zs.source"""


@register(
    "source_growth_matrix",
    _SOURCE_GROWTH_SQL,
    doc="PER-SOURCE GROWTH/SHAPE MATRIX — Heaps (K, beta) x Zipf slope "
    "per feed in one result, the curation analog of "
    "quality_psi_by_domain for feed REWEIGHTING decisions: a feed whose "
    "vocabulary stops growing (beta -> 0) while its Zipf slope steepens "
    "is templated boilerplate to down-weight; one that keeps minting "
    "vocabulary (beta ~0.5+) with a flat slope is shredded/noisy text "
    "to screen.  Zipf leg: the SHARED _zipf_source_stats composite fold "
    "(one range-partitioned (source, cnt DESC, tok) order — no "
    "per-source sorts).  Heaps leg: ONE composite ordered_positions "
    "fold over (source, doc_id) with a running token sum; per-source "
    "decile checkpoints come off the broadcast 10-rows-per-source "
    "offset table, vocabulary growth from the vocab-sized "
    "first-occurrence MIN table, and the per-source log-log OLS runs "
    "over <= 10 points — heaps_law_exponent's machinery, including its "
    "degenerate-checkpoint discipline (p_docs >= 1, vocab > 0, dropped "
    "identically on both engines).  Both legs read the same raw token "
    "stream.  Scale: two corpus passes (term-frequency vocab + "
    "first-occurrence explode), both reduced map-side to vocab-sized "
    "tables; everything downstream is O(sources x 10).",
)
def source_growth_matrix(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    zipf = _zipf_source_stats(docs).select(
        "source",
        "vocab",
        "n_instances",
        # + 0.0 mirrors the oracle's -0.0 normalization
        (F.col("slope") + F.lit(0.0)).alias("zipf_slope"),
    )
    heaps = _heaps_source_stats(spark, docs)
    return zipf.join(heaps, "source").select(
        "source",
        "vocab",
        "n_instances",
        "zipf_slope",
        "heaps_beta",
        "heaps_k",
        "n_checkpoints",
    ).orderBy("source")


_SMOOTH_HOLDOUT_SQL = """
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
    hold AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
    uni AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM train GROUP BY lang, tok
    ),
    tot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM uni GROUP BY lang
    ),
    ff AS (
      SELECT lang, cnt AS r, CAST(COUNT(*) AS BIGINT) AS n_r
      FROM uni GROUP BY lang, cnt
    ),
    oov AS (
      SELECT h.lang, CAST(COUNT(*) AS BIGINT) AS u
      FROM (SELECT DISTINCT lang, tok FROM hold) h
      LEFT JOIN uni ON uni.lang = h.lang AND uni.tok = h.tok
      WHERE uni.tok IS NULL
      GROUP BY h.lang
    ),
    scored AS (
      SELECT h.lang,
             uni.cnt,
             ROUND(-ln((COALESCE(uni.cnt, 0) + 1)
                       / CAST(tot.n + tot.v + COALESCE(oov.u, 0)
                              AS DOUBLE)), 12) AS nll_add1,
             ROUND(-ln(CASE
               WHEN uni.cnt IS NULL
                 THEN CAST(GREATEST(tot.n1, 1) AS DOUBLE) / tot.n / oov.u
               WHEN uni.cnt <= 5 AND COALESCE(f1.n_r, 0) > 0
                 THEN (uni.cnt + 1) * CAST(f1.n_r AS DOUBLE) / f0.n_r / tot.n
               ELSE CAST(uni.cnt AS DOUBLE) / tot.n END), 12) AS nll_gt,
             ROUND(-ln(CASE
               WHEN uni.cnt IS NULL
                 THEN 0.75 * tot.v / tot.n / oov.u
               ELSE (uni.cnt - 0.75) / tot.n END), 12) AS nll_abs
      FROM hold h
      LEFT JOIN uni ON uni.lang = h.lang AND uni.tok = h.tok
      LEFT JOIN ff f0 ON f0.lang = h.lang AND f0.r = uni.cnt
      LEFT JOIN ff f1 ON f1.lang = h.lang AND f1.r = uni.cnt + 1
      JOIN tot ON tot.lang = h.lang
      LEFT JOIN oov ON oov.lang = h.lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_holdout,
           CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_instances,
           ROUND(CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_rate,
           ROUND(CAST(CAST(SUM(CAST(nll_add1 AS DECIMAL(38,12)))
                 AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS nll_add1,
           ROUND(CAST(CAST(SUM(CAST(nll_gt AS DECIMAL(38,12)))
                 AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS nll_gt,
           ROUND(CAST(CAST(SUM(CAST(nll_abs AS DECIMAL(38,12)))
                 AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS nll_absdisc
    FROM scored GROUP BY lang ORDER BY lang
    """


@register(
    "smoothing_holdout_nll",
    _SMOOTH_HOLDOUT_SQL,
    doc="SMOOTHER BAKE-OFF ON HELD-OUT DATA — the r12-verdict Good-"
    "Turing-vs-KN follow-through at the order where the comparison is "
    "clean: train unigram LMs on the 80% hash split, score the 20% "
    "holdout (OOV included) with three published smoothers and report "
    "per-language mean NLL side by side: add-1 (the family baseline), "
    "Katz-regime GOOD-TURING (r* = (r+1)N_{r+1}/N_r for r <= 5 with raw "
    "frequency-of-frequency tables, MLE above — the good_turing_"
    "smoothing query's masses actually USED for prediction, unseen mass "
    "N_1/N split over the holdout's OOV types), and ABSOLUTE "
    "DISCOUNTING D=0.75 (Ney & Essen — the discounting core Kneser-Ney "
    "builds its continuation distribution on; leftover DV/N mass to "
    "OOV, exactly normalized).  Measured result (pytest-planted on a "
    "Zipfian corpus with real holdout OOV, probed across six "
    "size/skew/OOV regimes): ABSOLUTE DISCOUNTING beats add-1 wherever "
    "OOV mass matters; Katz-regime GT with RAW N_r tables tracks "
    "add-1/MLE instead of beating them — its r <= 5 discounts are "
    "frequency-of-frequency noise at these corpus sizes (exactly the "
    "instability Gale & Sampson's smoothed SGT exists to fix), which "
    "is itself the honest, useful answer.  This synthetic 31-word "
    "corpus has ~zero OOV, so the columns separate on discounting "
    "alone.  Scale: model "
    "tables are lang x vocab aggregates (map-side), the frequency-of-"
    "frequency table is O(max count), scoring is one broadcast-join "
    "pass over holdout tokens; per-language decimal-sum means.",
)
def smoothing_holdout_nll(spark, sf_dir):
    dec = "decimal(38,12)"
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    toks = _tok_stream(docs)
    train = toks.filter(F.col("doc_id") % 5 != 0)
    hold = toks.filter(F.col("doc_id") % 5 == 0)
    uni = train.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = uni.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
    )
    ff = uni.groupBy("lang", F.col("cnt").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    oov = (
        hold.select("lang", "tok")
        .distinct()
        .join(uni, ["lang", "tok"], "left_anti")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("u"))
    )
    f0 = ff.select(
        F.col("lang").alias("lang0"),
        F.col("r").alias("r0"),
        F.col("n_r").alias("nr0"),
    )
    f1 = ff.select(
        F.col("lang").alias("lang1"),
        F.col("r").alias("r1"),
        F.col("n_r").alias("nr1"),
    )
    scored = (
        hold.join(F.broadcast(uni), ["lang", "tok"], "left")
        .join(
            F.broadcast(f0),
            (F.col("r0") == F.col("cnt")) & (F.col("lang0") == F.col("lang")),
            "left",
        )
        .join(
            F.broadcast(f1),
            (F.col("r1") == F.col("cnt") + 1)
            & (F.col("lang1") == F.col("lang")),
            "left",
        )
        .join(F.broadcast(tot), "lang")
        .join(F.broadcast(oov), "lang", "left")
    )
    p_add1 = (F.coalesce(F.col("cnt"), F.lit(0)) + 1) / (
        F.col("n") + F.col("v") + F.coalesce(F.col("u"), F.lit(0))
    ).cast("double")
    p_gt = (
        F.when(
            F.col("cnt").isNull(),
            # hapax floor: a train profile with NO singletons (this
            # saturated synthetic corpus) degenerates the GT unseen
            # estimate N_1/N to 0 — floor N_1 at 1 on BOTH engines
            F.greatest(F.col("n1"), F.lit(1)).cast("double")
            / F.col("n")
            / F.col("u"),
        )
        .when(
            (F.col("cnt") <= 5) & (F.coalesce(F.col("nr1"), F.lit(0)) > 0),
            (F.col("cnt") + 1)
            * F.col("nr1").cast("double")
            / F.col("nr0")
            / F.col("n"),
        )
        .otherwise(F.col("cnt").cast("double") / F.col("n"))
    )
    p_abs = F.when(
        F.col("cnt").isNull(),
        F.lit(0.75) * F.col("v") / F.col("n") / F.col("u"),
    ).otherwise((F.col("cnt") - F.lit(0.75)) / F.col("n"))
    s = scored.select(
        "lang",
        "cnt",
        F.round(-F.log(p_add1), 12).alias("nll_add1"),
        F.round(-F.log(p_gt), 12).alias("nll_gt"),
        F.round(-F.log(p_abs), 12).alias("nll_abs"),
    )
    cnt_all = F.count(F.lit(1))
    oov_i = F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
    return (
        s.groupBy("lang")
        .agg(
            cnt_all.cast("bigint").alias("n_holdout"),
            oov_i.cast("bigint").alias("oov_instances"),
            F.round(oov_i.cast("double") / cnt_all, 6).alias("oov_rate"),
            F.round(
                F.sum(F.col("nll_add1").cast(dec)).cast("double") / cnt_all, 6
            ).alias("nll_add1"),
            F.round(
                F.sum(F.col("nll_gt").cast(dec)).cast("double") / cnt_all, 6
            ).alias("nll_gt"),
            F.round(
                F.sum(F.col("nll_abs").cast(dec)).cast("double") / cnt_all, 6
            ).alias("nll_absdisc"),
        )
        .orderBy("lang")
    )


def _bpe_stats_sql(r: int) -> str:
    return f"""
    stats{r} AS (
      SELECT {r} AS round,
             CAST(SUM(cnt * len(syms)) AS BIGINT) AS total_syms,
             ROUND(CAST(SUM(cnt * len(syms)) AS DOUBLE) / SUM(cnt), 6)
               AS fertility
      FROM syms{r}
    )"""


_BPE_GAIN_SQL = f"""
    WITH vocab AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE len(w) >= 2
      GROUP BY w
    ),
    syms0 AS MATERIALIZED (
      SELECT cnt, list_transform(range(1, len(w) + 1), i -> w[i:i]) AS syms
      FROM vocab
    ),{','.join(
        _bpe_round_sql(rr, mat=True).replace(
            f'syms{rr} AS (', f'syms{rr} AS MATERIALIZED (')
        for rr in (1, 2, 3)
    )},{','.join(_bpe_stats_sql(rr) for rr in (0, 1, 2, 3))}
    SELECT s.round,
           CASE WHEN s.round = 0 THEN NULL
                WHEN s.round = 1 THEN (SELECT a || '+' || b FROM top1)
                WHEN s.round = 2 THEN (SELECT a || '+' || b FROM top2)
                ELSE (SELECT a || '+' || b FROM top3) END AS merge_taken,
           CASE WHEN s.round = 0 THEN NULL
                WHEN s.round = 1 THEN (SELECT n FROM top1)
                WHEN s.round = 2 THEN (SELECT n FROM top2)
                ELSE (SELECT n FROM top3) END AS merge_n,
           s.total_syms,
           s.fertility,
           CASE WHEN s.round = 0 THEN NULL ELSE ROUND(
             (SELECT p.fertility FROM (
                SELECT * FROM stats0 UNION ALL SELECT * FROM stats1
                UNION ALL SELECT * FROM stats2) p
              WHERE p.round = s.round - 1) - s.fertility, 6) END
             AS fertility_gain
    FROM (SELECT * FROM stats0 UNION ALL SELECT * FROM stats1
          UNION ALL SELECT * FROM stats2 UNION ALL SELECT * FROM stats3) s
    ORDER BY s.round
    """


@register(
    "bpe_merge_gain_curve",
    _BPE_GAIN_SQL,
    doc="BPE MERGE-GAIN CURVE — the vocab-size decision's operating-"
    "point table (the lsh_band_sweep / ann_recall_sq_sweep pattern "
    "applied to the tokenizer axis): corpus fertility over the training "
    "vocabulary after 0/1/2/3 merges of the SHARED training fold, with "
    "each round's merge, its pair count, and the MARGINAL fertility it "
    "bought — the diminishing-returns curve a tokenizer team reads to "
    "pick vocabulary size (merge gains decay roughly with pair "
    "frequency; when the marginal gain flattens, growing the vocab buys "
    "compression the model pays for in embedding parameters).  Same "
    "vocab-sized loop as bpe_merge_loop (the corpus collapses once; "
    "every round is pair-vocabulary-sized with the 1-row winner "
    "broadcast); per-round stats are integer sums off the current "
    "symbol table.  Conservation identity (pytest): total_syms drops by "
    "EXACTLY merge_n each round — a leftmost-non-overlapping merge "
    "replaces merge_n adjacent pairs by single symbols and nothing "
    "else.",
)
def bpe_merge_gain_curve(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    syms = vocab.select(
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    def stats(df, rnd):
        return df.agg(
            F.lit(rnd).alias("round"),
            F.sum(F.col("cnt") * F.size("syms"))
            .cast("bigint")
            .alias("total_syms"),
            F.round(
                F.sum(F.col("cnt") * F.size("syms")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("fertility"),
        )

    rows = [stats(syms, 0).collect()[0]]
    merges = [(None, None)]
    for rnd in (1, 2, 3):
        pairs = syms.select(
            "cnt",
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) < 2 "
                    "THEN CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) "
                    "ELSE transform(sequence(1, size(syms) - 1), "
                    "i -> named_struct('a', element_at(syms, i), "
                    "'b', element_at(syms, i + 1))) END"
                )
            ).alias("e"),
        )
        counts = pairs.groupBy(
            F.col("e.a").alias("a"), F.col("e.b").alias("b")
        ).agg(F.sum("cnt").alias("n"))
        top = counts.orderBy(F.desc("n"), "a", "b").limit(1).localCheckpoint()
        t = top.collect()[0]
        merges.append((f"{t['a']}+{t['b']}", int(t["n"])))
        syms = (
            syms.crossJoin(F.broadcast(top))
            .select("cnt", F.expr(_BPE_MERGE_EXPR).alias("syms"))
            .localCheckpoint(eager=True)
        )
        rows.append(stats(syms, rnd).collect()[0])

    out = []
    prev_f = None
    for rnd, row in enumerate(rows):
        gain = (
            None if prev_f is None else round(prev_f - row["fertility"], 6)
        )
        out.append(
            (
                rnd,
                merges[rnd][0],
                merges[rnd][1],
                int(row["total_syms"]),
                float(row["fertility"]),
                gain,
            )
        )
        prev_f = row["fertility"]
    from newyork_taxi_etl_spark.localrel import local_rows_df

    return local_rows_df(
        spark,
        out,
        "round int, merge_taken string, merge_n bigint, "
        "total_syms bigint, fertility double, fertility_gain double",
    ).orderBy("round")


# --- Tokenizer family bake-off (r14 verdict item 5) -------------------------

_BAKEOFF_SQL = f"""
    WITH long AS (
      SELECT 'bpe' AS family, split, lang, n_instances,
             bpe_symbols AS symbols, bpe_fertility AS fertility
      FROM ({_BPE_HOLDOUT_SQL})
      UNION ALL
      SELECT 'wordpiece' AS family, split, lang, n_instances,
             wp_symbols AS symbols, wp_fertility AS fertility
      FROM ({_WP_HOLDOUT_SQL})
      UNION ALL
      SELECT 'unigram' AS family, split, lang, n_instances,
             uni_pieces AS symbols, uni_fertility AS fertility
      FROM ({_UNI_HOLDOUT_SQL})
      UNION ALL
      SELECT 'bytebpe' AS family, split, lang, n_instances,
             bb_symbols AS symbols, bb_fertility AS fertility
      FROM ({_BYTEBPE_HOLDOUT_SQL})
    ),
    piv AS (
      SELECT family, lang,
             MAX(CASE WHEN split = 'train' THEN fertility END)
               AS train_fertility,
             MAX(CASE WHEN split = 'holdout' THEN fertility END)
               AS holdout_fertility,
             MAX(CASE WHEN split = 'holdout' THEN symbols END)
               AS hold_symbols
      FROM long GROUP BY family, lang
    ),
    hw AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id % 5 = 0)
      WHERE w <> '' GROUP BY lang, w
    ),
    hchars AS (
      SELECT lang, CAST(SUM(cnt * len(w)) AS BIGINT) AS n_chars
      FROM hw GROUP BY lang
    ),
    trainchars AS (
      SELECT DISTINCT ch FROM (
        SELECT unnest(list_transform(range(1, len(w) + 1),
                                     i -> w[i:i])) AS ch
        FROM (SELECT unnest(string_split(text, ' ')) AS w
              FROM documents WHERE doc_id % 5 <> 0)
        WHERE w <> ''
      )
    ),
    oovw AS (
      SELECT w, MAX(CASE WHEN tc.ch IS NULL THEN 1 ELSE 0 END) AS oov
      FROM (
        SELECT DISTINCT w,
               unnest(list_transform(range(1, len(w) + 1),
                                     i -> w[i:i])) AS ch
        FROM hw
      ) wc
      LEFT JOIN trainchars tc ON tc.ch = wc.ch
      GROUP BY w
    ),
    fb AS (
      SELECT hw.lang,
             ROUND(SUM(CASE WHEN o.oov = 1 THEN hw.cnt ELSE 0 END)
                   / CAST(SUM(hw.cnt) AS DOUBLE), 6) AS fallback
      FROM hw JOIN oovw o ON o.w = hw.w
      GROUP BY hw.lang
    )
    SELECT p.family AS family, p.lang AS lang,
           p.train_fertility AS train_fertility,
           p.holdout_fertility AS holdout_fertility,
           ROUND(p.holdout_fertility / p.train_fertility, 6)
             AS degradation,
           ROUND(h.n_chars / CAST(p.hold_symbols AS DOUBLE), 6)
             AS chars_per_token,
           CASE WHEN p.family = 'bytebpe' THEN 0.0
                ELSE f.fallback END AS fallback_rate
    FROM piv p
    JOIN hchars h ON h.lang = p.lang
    JOIN fb f ON f.lang = p.lang
    ORDER BY family, lang
    """


@register(
    "tokenizer_family_bakeoff",
    _BAKEOFF_SQL,
    doc="TOKENIZER FAMILY BAKE-OFF (r14 verdict item 5) — the one table "
    "a data team reads to pick a vocabulary: for each of the four "
    "shipped families (BPE, WordPiece, unigram-LM, byte-BPE) x "
    "language, the train and holdout fertility from the SAME shared "
    "trainer/apply folds as the single-family queries (the Spark side "
    "invokes those registered builders directly and the oracle embeds "
    "their exact SQL as subqueries — by construction the numbers "
    "CANNOT drift, and the consistency pytest pins every column to "
    "the standalone outputs), the holdout degradation ratio "
    "(memorization signal), holdout chars-per-token (compression: "
    "corpus chars over emitted symbols — corpus chars are family-"
    "independent, so one CTE serves all four), and the char-fallback "
    "rate: the share of holdout word instances containing a character "
    "absent from the training split's alphabet — the instances a "
    "char-vocab tokenizer must <unk>/byte-fallback, and exactly 0 for "
    "byte-BPE whose 256-byte base alphabet is total (the byte path's "
    "selling point, visible in the table).  Scale: four vocab-sized "
    "training folds + one vocab-sized char-coverage join; nothing "
    "corpus-sized shuffles twice.",
)
def tokenizer_family_bakeoff(spark, sf_dir):
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    fams = (
        ("bpe", bpe_holdout_fertility, "bpe_symbols", "bpe_fertility"),
        ("wordpiece", wordpiece_holdout_fertility, "wp_symbols",
         "wp_fertility"),
        ("unigram", unigram_holdout_fertility, "uni_pieces",
         "uni_fertility"),
        ("bytebpe", bytebpe_holdout_fertility, "bb_symbols",
         "bb_fertility"),
    )
    legs = [
        fn(spark, sf_dir).select(
            F.lit(name).alias("family"),
            "split",
            "lang",
            F.col(sym).alias("symbols"),
            F.col(fert).alias("fertility"),
        )
        for name, fn, sym, fert in fams
    ]
    long = legs[0]
    for leg in legs[1:]:
        long = long.unionByName(leg)
    piv = long.groupBy("family", "lang").agg(
        F.max(
            F.when(F.col("split") == "train", F.col("fertility"))
        ).alias("train_fertility"),
        F.max(
            F.when(F.col("split") == "holdout", F.col("fertility"))
        ).alias("holdout_fertility"),
        F.max(
            F.when(F.col("split") == "holdout", F.col("symbols"))
        ).alias("hold_symbols"),
    )
    hw = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    hchars = hw.groupBy("lang").agg(
        F.sum(F.col("cnt") * F.length("w")).cast("bigint").alias("n_chars")
    )
    trainchars = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> substring(w, i, 1))"
                )
            ).alias("ch")
        )
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    oovw = (
        hw.select("w")
        .distinct()
        .select(
            "w",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w)),"
                    " i -> substring(w, i, 1))"
                )
            ).alias("ch"),
        )
        .join(F.broadcast(trainchars), "ch", "left")
        .groupBy("w")
        .agg(
            F.max(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
                "oov"
            )
        )
    )
    fb = (
        hw.join(oovw, "w")
        .groupBy("lang")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("oov") == 1, F.col("cnt")).otherwise(0)
                ).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("fallback")
        )
    )
    return (
        piv.join(F.broadcast(hchars), "lang")
        .join(F.broadcast(fb), "lang")
        .select(
            "family",
            "lang",
            "train_fertility",
            "holdout_fertility",
            F.round(
                F.col("holdout_fertility") / F.col("train_fertility"), 6
            ).alias("degradation"),
            F.round(
                F.col("n_chars") / F.col("hold_symbols").cast("double"), 6
            ).alias("chars_per_token"),
            F.when(F.col("family") == "bytebpe", F.lit(0.0))
            .otherwise(F.col("fallback"))
            .alias("fallback_rate"),
        )
        .orderBy("family", "lang")
    )
