"""Round-11 semantic-invariant tests: edge cases the DuckDB differential
cannot see (NULL-ts routing at the streaming split, checksum sensitivity
of the shard-export fingerprint)."""

from __future__ import annotations

import hashlib
import math
import uuid

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from newyork_taxi_etl_spark.registry import queries


def test_streaming_w1_ingest_routes_null_ts_like_batch(spark, tmp_path):
    """The ingest split must mirror the batch CASE: d < cutoff -> 'a',
    ELSE (including NULL ts) -> 'b'.  A plain d >= cutoff live filter
    would drop a NULL-ts / non-null-value event from BOTH sides and the
    claimed bit-for-bit equality with wasserstein_value_drift would
    break the day the driver testdata ships one."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_w1_ingest,
    )

    rows = [
        ("2024-01-10 00:00:00", 1.00),
        ("2024-01-11 00:00:00", 2.00),
        ("2024-01-20 00:00:00", 1.50),
        ("2024-01-21 00:00:00", 3.00),
        (None, 2.50),  # NULL ts, non-null value: must land on side b
    ]
    ev = spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = run_streaming_w1_ingest(
        spark, ev, str(tmp_path / "w1null"), n_slices=2,
        cache_key=uuid.uuid4().hex,
    ).collect()
    assert len(out) == 1
    assert out[0]["n_a"] == 2
    assert out[0]["n_b"] == 3  # 2 post-cutoff + the NULL-ts event


def test_shard_export_checksum_detects_loss_and_dup(spark):
    """The commutative fingerprint must move when a doc is lost or
    duplicated: recompute it driver-side from the kept doc_ids and match
    the manifest, then verify removing/duplicating one id changes it."""
    mods = queries()["corpus_shard_export"](spark, SF_ORACLE).collect()
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    kept = (
        docs.filter(F.size(F.split("text", " ")) >= 10)
        .select("doc_id")
        .collect()
    )
    prime = 2305843009213693951

    def sig(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[8:16], 16)

    def shard(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:6], 16) % 8

    by_shard: dict[int, int] = {s: 0 for s in range(8)}
    for r in kept:
        by_shard[shard(r.doc_id)] += sig(r.doc_id)
    for row in mods:
        expect = by_shard[row["shard"]] % prime
        assert row["doc_id_checksum"] == expect, row
    # sensitivity: dropping or double-counting any one doc moves the sum
    some = kept[0].doc_id
    s = shard(some)
    assert (by_shard[s] - sig(some)) % prime != by_shard[s] % prime
    assert (by_shard[s] + sig(some)) % prime != by_shard[s] % prime


def test_exact_substring_finds_planted_verbatim_not_scrambled(spark):
    """A verbatim 30-token span shared at DIFFERENT offsets must surface
    with its exact token length; a scrambled doc with the identical token
    MULTISET (unigram Jaccard 1.0) must NOT — the property separating
    ExactSubstr from the Jaccard/containment family."""
    import random

    from newyork_taxi_etl_spark.operators.dedup import exact_substring_runs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    span = [rng.choice(vocab) for _ in range(30)]
    noise = lambda n: [rng.choice(vocab) for _ in range(n)]  # noqa: E731
    doc_a = noise(17) + span + noise(20)
    doc_b = noise(5) + span + noise(40)
    scrambled = sorted(doc_a)  # same multiset as doc_a, no verbatim run
    docs = spark.createDataFrame(
        [
            (1, " ".join(doc_a)),
            (2, " ".join(doc_b)),
            (3, " ".join(scrambled)),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.longest_run_tokens
        for r in exact_substring_runs(
            docs, k=8, max_occ=64, min_tokens=12
        ).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)] >= 30  # the planted span, possibly noise-extended
    assert got[(1, 2)] <= 32  # but no phantom mega-run
    assert (1, 3) not in got and (2, 3) not in got


def test_unigram_segmentation_concats_back_to_word(spark):
    """decode(encode(w)) == w: every vocab word's Viterbi segmentation
    must concatenate back to the word exactly (single-char floor pieces
    guarantee reachability), and every used piece must be in the cost
    table — the unigram twin of the BPE roundtrip invariant."""
    from newyork_taxi_etl_spark.operators import unigram as UNI

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    words = UNI.word_vocab(docs)
    final = UNI.train_unigram(docs, em_rounds=2, keep_multi=24)
    vocab = {r.piece for r in final.collect()}
    segs = UNI.segment_words(words, UNI.piece_costs(final)).collect()
    assert len(segs) > 0
    for r in segs:
        assert "".join(r.pieces) == r.w, r
        assert all(p in vocab for p in r.pieces), r


def test_unigram_fertility_sane_and_comparable_to_bpe(spark):
    """Fertility gates: >= 1 everywhere (a word is at least one piece),
    <= word length in chars, holdout within 1.5x of train (no
    memorization blowup), and within 3x of the BPE number on the same
    holdout split — the two tokenizer families must land in the same
    regime on this corpus."""
    uni = {
        (r.split, r.lang): r.uni_fertility
        for r in queries()["unigram_holdout_fertility"](
            spark, SF_ORACLE
        ).collect()
    }
    bpe = {
        (r.split, r.lang): r.bpe_fertility
        for r in queries()["bpe_holdout_fertility"](
            spark, SF_ORACLE
        ).collect()
    }
    assert uni and set(uni) == set(bpe)
    for key, uf in uni.items():
        assert 1.0 <= uf <= 10.0, (key, uf)
        bf = bpe[key]
        assert uf <= 3.0 * bf and bf <= 3.0 * uf, (key, uf, bf)
    for (split, lang), uf in uni.items():
        if split == "holdout":
            tr = uni[("train", lang)]
            assert uf <= 1.5 * tr, (lang, uf, tr)


def test_psi_ingest_batching_invariant_and_equals_batch(spark, tmp_path):
    """(source, bin) counts are additive integers and the PSI fold is
    shared, so the drained monitor must equal itself under 1 vs 4 slices
    AND equal the one-shot batch statistic bit-for-bit."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_psi_ingest,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    one = run_streaming_psi_ingest(
        spark, docs, str(tmp_path / "one"), n_slices=1,
        cache_key=uuid.uuid4().hex,
    ).collect()
    four = run_streaming_psi_ingest(
        spark, docs, str(tmp_path / "four"), n_slices=4,
        cache_key=uuid.uuid4().hex,
    ).collect()
    batch = queries()["quality_psi_by_domain"](spark, SF_ORACLE).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, four))
    assert sorted(map(tuple, one)) == sorted(map(tuple, batch))
    assert len(one) > 1 and all(r["psi"] >= 0.0 for r in one)


def test_psi_flags_planted_score_shift(spark):
    """A domain whose documents systematically fail the quality features
    (short, low type-token ratio) must show materially higher PSI against
    the global reference than a domain drawn from the same distribution
    as the bulk."""
    import random

    from newyork_taxi_etl_spark.queries.curation import (
        _scored_bins,
        psi_from_source_counts,
    )
    from pyspark.sql import functions as F

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    rows = []
    did = 0
    for src in ("bulk_a", "bulk_b"):
        for _ in range(120):
            toks = [rng.choice(vocab) for _ in range(rng.randint(40, 70))]
            rows.append((did, src, " ".join(toks), len(" ".join(toks))))
            did += 1
    for _ in range(120):  # drifted: short and repetitive
        toks = [rng.choice(vocab[:3]) for _ in range(rng.randint(5, 12))]
        rows.append((did, "drifted", " ".join(toks), len(" ".join(toks))))
        did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    )
    # fixed reasonable weights: the test isolates the PSI tail, not GD
    w = [0.0, 2.0, 1.0, 0.5]
    counts = (
        _scored_bins(docs, w)
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    psi = {r.source: r.psi for r in psi_from_source_counts(counts).collect()}
    assert psi["drifted"] > 0.25, psi
    assert psi["drifted"] > 3 * max(psi["bulk_a"], psi["bulk_b"]), psi


def test_fm_growth_monotone_and_accurate(spark):
    """The LogLog growth monitor must be monotone non-decreasing in both
    the estimate and the truth (max-rank state only grows), and the
    64-group estimate must land within 35% of the exact distinct count
    in this n >> m regime."""
    rows = queries()["streaming_fm_distinct_ingest"](
        spark, SF_ORACLE
    ).collect()
    assert [r.batch_seq for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert b.fm_estimate >= a.fm_estimate
        assert b.true_distinct >= a.true_distinct
    for r in rows:
        assert r.rel_err <= 0.35, r
    assert rows[-1].true_distinct > rows[0].true_distinct  # actual growth


def test_shuffle_audit_passes_and_detects_corruption(spark):
    """The audit must hold all three booleans on an honest re-export from
    a different layout, and each fingerprint must MOVE under its failure
    mode: content_fp on a dropped doc, order_fp on a reseeded order rule
    (same doc set, different sequence)."""
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.operators.sampling import hash_bucket
    from newyork_taxi_etl_spark.queries.curation import _shard_audit_stats

    rows = queries()["shard_export_shuffle_audit"](
        spark, SF_ORACLE
    ).collect()
    assert len(rows) == 16
    assert all(
        r.counts_match and r.content_match and r.order_match for r in rows
    )
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    honest = {r["shard"]: r for r in _shard_audit_stats(docs).collect()}
    # corruption 1: drop one doc -> content fingerprint of its shard moves
    victim = docs.select("doc_id").orderBy("doc_id").first().doc_id
    dropped = {
        r["shard"]: r
        for r in _shard_audit_stats(
            docs.filter(F.col("doc_id") != victim)
        ).collect()
    }
    vshard = [
        s
        for s in honest
        if honest[s]["n_docs"] != dropped[s]["n_docs"]
    ]
    assert len(vshard) == 1
    assert honest[vshard[0]]["content_fp"] != dropped[vshard[0]]["content_fp"]
    # corruption 2: a different order rule over the SAME reservoir docs
    # (sequence by doc_id instead of (pos_key, doc_id)) must move the
    # order fingerprint on at least one shard — order sensitivity
    from pyspark.sql import Window

    sharded = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id") + F.lit(7), 16).cast("int").alias(
            "shard"
        ),
        hash_bucket(F.col("doc_id"), 4294967296).alias("pos_key"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    res = sharded.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 8
    )
    wrong_ofp = {
        r["shard"]: r["ofp"]
        for r in res.groupBy("shard")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.expr(
                        "transform(array_sort(collect_list("
                        "struct(doc_id))), x -> CAST(x.doc_id AS STRING))"
                    ),
                )
            ).alias("ofp")
        )
        .collect()
    }
    assert any(
        honest[s]["order_fp"] != wrong_ofp[s] for s in honest
    ), "order fingerprint is not order-sensitive"


def test_substring_strip_unions_overlapping_spans(spark):
    """Two pairs marking OVERLAPPING intervals in the same victim doc must
    union before counting (tokens removed once, never double-counted), and
    the first-occurrence doc must keep everything."""
    import random

    from newyork_taxi_etl_spark.operators.dedup import (
        substring_strip_ledger,
    )

    rng = random.Random(3)
    vocab = [f"v{i}" for i in range(80)]
    span = [rng.choice(vocab) for _ in range(40)]
    noise = lambda n: [rng.choice(vocab) for _ in range(n)]  # noqa: E731
    # doc 1 carries span[:30], doc 2 carries span[10:40] -> both overlap
    # doc 3's copy of span[0:40]: intervals [s..] overlapping inside doc 3
    doc1 = noise(6) + span[:30] + noise(6)
    doc2 = noise(9) + span[10:] + noise(3)
    doc3 = noise(4) + span + noise(8)
    docs = spark.createDataFrame(
        [(1, " ".join(doc1)), (2, " ".join(doc2)), (3, " ".join(doc3))],
        "doc_id long, text string",
    )
    led = {
        r.doc_id: r
        for r in substring_strip_ledger(
            docs, k=8, max_occ=64, min_tokens=12
        ).collect()
    }
    assert 1 not in led  # lowest id: first occurrence keeps everything
    assert 3 in led
    # doc3 is marked by doc1 (span[:30] at offset 5..34) and by doc2
    # (span[10:] at 15..44) — overlapping; union = [5..44] = 40 tokens,
    # one island, never 30+30=60
    assert led[3].n_spans == 1, led[3]
    assert led[3].tokens_removed == 40, led[3]
    assert 2 in led and led[2].tokens_removed >= 20


def test_hard_negatives_exclude_same_label_and_find_planted(spark):
    """Mined negatives must never share the anchor's label, and a planted
    near-duplicate vector with a DIFFERENT label must surface as the
    rank-1 hard negative of its anchor."""
    rows = queries()["hard_negative_mining"](spark, SF_ORACLE).collect()
    emb = {
        r.vec_id: r.label
        for r in spark.read.parquet(
            f"{SF_ORACLE}/embeddings.parquet"
        ).collect()
    }
    assert rows and all(r.neg_rank <= 4 for r in rows)
    for r in rows:
        assert emb[r.neg_id] != r.anchor_label, r
    # planted: copy one anchor's vector (+tiny noise-free copy), flip label
    from newyork_taxi_etl_spark.queries.similarity import hard_negative_mining
    import pandas as pd, tempfile, os

    src = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(100)
    pdf = src.toPandas()
    # anchor = smallest md5(vec_id): guaranteed inside the 64-sample
    pdf = pdf.sort_values(
        by="vec_id",
        key=lambda s: s.map(
            lambda v: hashlib.md5(str(v).encode()).hexdigest()
        ),
        kind="stable",
    ).reset_index(drop=True)
    anchor = pdf.iloc[0]
    clone = anchor.copy()
    clone["vec_id"] = 999_999
    clone["label"] = (int(anchor["label"]) + 1) % 4
    pdf2 = pd.concat([pdf, clone.to_frame().T], ignore_index=True)
    tmp = tempfile.mkdtemp()
    pdf2.to_parquet(os.path.join(tmp, "embeddings.parquet"))
    mined = hard_negative_mining(spark, tmp).collect()
    top = {
        r.anchor_id: r.neg_id for r in mined if r.neg_rank == 1
    }
    assert int(anchor["vec_id"]) in top  # smallest md5 -> in the sample
    assert top[int(anchor["vec_id"])] == 999_999


def test_span_decontamination_flags_planted_quote(spark, tmp_path):
    """A corpus doc quoting a 20-token span of a benchmark doc (doc_id
    multiple of 50) must be flagged with the exact span length; an
    unrelated corpus doc must not appear."""
    import os
    import random

    import pandas as pd

    from newyork_taxi_etl_spark.queries.curation import (
        decontamination_exact_substring,
    )

    rng = random.Random(5)
    vocab = [f"q{i}" for i in range(70)]
    span = [rng.choice(vocab) for _ in range(20)]
    noise = lambda n: [rng.choice(vocab) for _ in range(n)]  # noqa: E731
    rows = [
        # benchmark doc (id 50): carries the span
        (50, "en", " ".join(noise(10) + span + noise(10))),
        # contaminated corpus doc: quotes the span at another offset
        (7, "en", " ".join(noise(25) + span + noise(5))),
        # clean corpus doc
        (8, "en", " ".join(noise(50))),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "text"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf["source"] = "t"
    pdf.to_parquet(os.path.join(str(tmp_path), "documents.parquet"))
    got = {
        r.corpus_id: r.longest_run_tokens
        for r in decontamination_exact_substring(
            spark, str(tmp_path)
        ).collect()
    }
    assert 7 in got and got[7] == 20, got
    assert 8 not in got


def test_decon_ingest_batching_invariant_and_equals_batch(spark, tmp_path):
    """Per-pair run rows are final on append (runs live inside single
    docs), so the drained top-20 must be identical under 1 vs 4 slices
    AND equal the one-shot batch query bit-for-bit."""
    from newyork_taxi_etl_spark.streaming.windows import (
        run_streaming_decon_ingest,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    one = run_streaming_decon_ingest(
        spark, docs, str(tmp_path / "one"), n_slices=1,
        cache_key=uuid.uuid4().hex,
    ).collect()
    four = run_streaming_decon_ingest(
        spark, docs, str(tmp_path / "four"), n_slices=4,
        cache_key=uuid.uuid4().hex,
    ).collect()
    batch = queries()["decontamination_exact_substring"](
        spark, SF_ORACLE
    ).collect()
    assert [tuple(r) for r in one] == [tuple(r) for r in four]
    assert [tuple(r) for r in one] == [tuple(r) for r in batch]


def test_wordpiece_argmax_diverges_from_bpe_on_planted_corpus(spark):
    """WordPiece's likelihood-gain score must pick a rare-but-cohesive
    pair over BPE's raw-frequency winner.  Planted corpus: 'th' appears
    in many words built from very frequent letters (t, h everywhere),
    while 'qz' appears fewer times but q and z occur NOWHERE else —
    count(qz)/(f(q)*f(z)) maximal, count(th) maximal."""
    from newyork_taxi_etl_spark.queries.text import (
        _bpe_train_tops,
        _wp_train_tops,
    )

    words = (
        ["that this then hath teeth"] * 6  # t/h frequent, 'th' everywhere
        + ["qz"] * 3  # q,z occur only together
    )
    docs = spark.createDataFrame([(w,) for w in words], "text string")
    bpe1 = _bpe_train_tops(docs, rounds=1)[0].collect()[0]
    wp1 = _wp_train_tops(docs, rounds=1)[0].collect()[0]
    assert (bpe1["a"], bpe1["b"]) == ("t", "h")
    assert (wp1["a"], wp1["b"]) == ("q", "z")
    # the score column is the documented log-domain likelihood gain
    # ln n - ln fa - ln fb: f(q) = f(z) = 3, n(qz) = 3 -> ln(3/9) = -ln 3
    assert abs(wp1["score"] - math.log(3 / 9)) < 1e-9


def test_wordpiece_fold_is_bpes_fold(spark):
    """Both trainers must rewrite symbols with the SAME leftmost-non-
    overlapping fold: after forcing the same winning pair, round-2
    symbol streams agree (the shared-_BPE_MERGE_EXPR contract)."""
    from newyork_taxi_etl_spark.queries.text import (
        _bpe_train_tops,
        _wp_train_tops,
    )

    # single repeated word -> both criteria pick the same argmax ('aa'
    # overlap case pins leftmost-non-overlap: 'aaaa' -> [aa, aa])
    docs = spark.createDataFrame([("aaaa aaaa",)] * 4, "text string")
    bpe = _bpe_train_tops(docs, rounds=2)
    wp = _wp_train_tops(docs, rounds=2)
    assert [(t.collect()[0]["a"], t.collect()[0]["b"]) for t in bpe] == [
        (t.collect()[0]["a"], t.collect()[0]["b"]) for t in wp
    ]


def test_dsir_selects_target_lang_on_disjoint_vocab(spark):
    """With disjoint vocabularies (pre-checked collision-free in the
    64-bucket hash space), DSIR must select every target-language doc
    (w > 0) and no off-target doc: each off-target bucket has zero
    target mass, so its log-ratio is strictly negative."""
    import hashlib

    en_toks, zh_toks = ["alpha", "beta", "gamma"], ["omega", "sigma", "theta"]

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 64

    assert len({bucket(t) for t in en_toks + zh_toks}) == 6  # no collisions

    rows = [(i, " ".join(en_toks), "en") for i in range(8)] + [
        (100 + i, " ".join(zh_toks), "zh") for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from newyork_taxi_etl_spark.queries.curation import _dsir_profile

    out = {r["lang"]: r for r in _dsir_profile(docs).collect()}
    assert out["en"]["selected_share"] == 1.0
    assert out["zh"]["selected_share"] == 0.0
    assert out["en"]["avg_logweight"] > 0 > out["zh"]["avg_logweight"]


def test_span_corruption_matches_independent_python_plan(spark):
    """Third-implementation check: recompute the deterministic span plan
    in plain Python (hashlib md5) for planted single-doc languages and
    match counts, rates, and the T5 length accounting identities."""
    import hashlib

    rows = [
        (7, " ".join(f"t{i}" for i in range(40)), "aa"),
        (9, " ".join(f"u{i}" for i in range(25)), "bb"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def plan(doc_id, n):
        flags = [
            int(hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:8], 16)
            % 100
            < 15
            for i in range(1, n + 1)
        ]
        noise = sum(flags)
        spans = sum(
            1
            for i, f in enumerate(flags)
            if f and (i == 0 or not flags[i - 1])
        )
        return noise, spans

    # the builder reads from sf_dir: stage the planted frame as parquet
    import os
    import tempfile

    tmp = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    from newyork_taxi_etl_spark.registry import queries

    out = {
        r["lang"]: r
        for r in queries()["span_corruption_plan"](spark, tmp).collect()
    }
    for doc_id, text, lang in rows:
        n = len(text.split(" "))
        noise, spans = plan(doc_id, n)
        r = out[lang]
        assert r["total_tokens"] == n
        assert r["total_noise"] == noise
        assert r["total_spans"] == spans
        assert r["avg_input_len"] == round(float(n - noise + spans), 6)
        assert r["avg_target_len"] == round(float(noise + spans + 1), 6)


def test_distinct_n_craters_on_templated_corpus(spark):
    """distinct-2/3 must separate a templated (single repeated sentence)
    language from a fully-unique one even when both have similar
    distinct-1 vocabularies spread across docs."""
    import os
    import tempfile

    uniq = [
        (i, " ".join(f"w{i}_{j}" for j in range(12)), "uq")
        for i in range(10)
    ]
    tmpl = [(100 + i, "the same ten words repeat here every time x y", "tp")
            for i in range(10)]
    docs = spark.createDataFrame(
        uniq + tmpl, "doc_id long, text string, lang string"
    )
    tmp = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    from newyork_taxi_etl_spark.registry import queries

    out = {
        (r["lang"], r["n"]): r
        for r in queries()["distinct_n_diversity"](spark, tmp).collect()
    }
    assert out[("uq", 2)]["distinct_ratio"] == 1.0
    assert out[("uq", 3)]["distinct_ratio"] == 1.0
    # 10 identical docs: every bigram/trigram repeats 10x
    assert out[("tp", 2)]["distinct_ratio"] == 0.1
    assert out[("tp", 3)]["distinct_ratio"] == 0.1


def test_sq8_constant_dim_and_duplicate_nearest(spark):
    """A zero-range dimension must not 0/0 (step floors at 1.0, code 0,
    dequant == min), and an exact duplicate vector must rank 1 with ADC
    distance 0 — the codec reconstructs corpus min/max endpoints
    exactly."""
    import os
    import random
    import tempfile

    rng = random.Random(3)
    rows = []
    for vid in range(8):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        v[0] = 0.25  # constant dim across the corpus
        rows.append((vid, [float(x) for x in v]))
    rows.append((8, list(rows[2][1])))  # exact duplicate of vec 2
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tmp = tempfile.mkdtemp()
    emb.write.mode("overwrite").parquet(os.path.join(tmp, "embeddings.parquet"))
    from newyork_taxi_etl_spark.registry import queries

    out = queries()["ann_sq8_adc_topk"](spark, tmp).collect()
    assert len(out) == 25  # 5 probes x top-5
    assert all(r["adc_dist"] is not None and r["adc_dist"] >= 0 for r in out)
    top2 = {r["cand_id"]: r for r in out if r["query_id"] == 2 and r["rank"] == 1}
    assert 8 in top2  # the planted duplicate is the nearest
    # ADC is asymmetric (raw query vs dequantized candidate), so the
    # duplicate's distance is the reconstruction error, bounded by
    # 64 * (step/2)^2 <= 64 * (1/255)^2 ~ 0.001 for range-2 dims
    assert top2[8]["adc_dist"] <= 0.005


def test_ccnet_tiles_handle_languages_smaller_than_three(spark):
    """The integer NTILE(3) formula must match SQL NTILE on degenerate
    language sizes: n=1 -> one head row, n=2 -> head+middle, n=5 ->
    sizes (2,2,1)."""
    import os
    import tempfile

    rows = (
        [(1, "one doc only here", "aa")]
        + [(10 + i, f"pair doc {i} words", "bb") for i in range(2)]
        + [(20 + i, f"five docs {i} in this lang", "cc") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    tmp = tempfile.mkdtemp()
    docs.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    from newyork_taxi_etl_spark.registry import queries

    out = queries()["ccnet_perplexity_buckets"](spark, tmp).collect()
    got = {(r["lang"], r["tile"]): r["n_docs"] for r in out}
    assert got == {
        ("aa", 1): 1,
        ("bb", 1): 1,
        ("bb", 2): 1,
        ("cc", 1): 2,
        ("cc", 2): 2,
        ("cc", 3): 1,
    }


def test_wordpiece_fertility_in_family_regime(spark):
    """Three-family comparability: WordPiece fertility within 3x of BPE
    on every (split, lang) cell, >= 1 everywhere, and holdout <= 1.5x
    train (memorization guard) — same gates the unigram family passes."""
    wp = {
        (r.split, r.lang): r.wp_fertility
        for r in queries()["wordpiece_holdout_fertility"](
            spark, SF_ORACLE
        ).collect()
    }
    bpe = {
        (r.split, r.lang): r.bpe_fertility
        for r in queries()["bpe_holdout_fertility"](
            spark, SF_ORACLE
        ).collect()
    }
    assert wp and set(wp) == set(bpe)
    for key, wf in wp.items():
        assert 1.0 <= wf <= 10.0, (key, wf)
        bf = bpe[key]
        assert wf <= 3.0 * bf and bf <= 3.0 * wf, (key, wf, bf)
    for (split, lang), wf in wp.items():
        if split == "holdout":
            assert wf <= 1.5 * wp[("train", lang)], (lang, wf)


def _py_greedy(word, vocab, max_len=8):
    """Plain-Python greedy longest-match reference (BERT runtime)."""
    out, pos = [], 0
    while pos < len(word):
        for d in range(min(max_len, len(word) - pos), 0, -1):
            if word[pos : pos + d] in vocab:
                out.append(word[pos : pos + d])
                pos += d
                break
        else:  # pragma: no cover - vocab must contain singles
            raise AssertionError("uncovered position")
    return out


def test_wordpiece_greedy_matches_python_reference(spark):
    """The relational greedy fold must reproduce longest-match-first
    exactly: corpus-vocab words segmented against singles + trained
    merges agree with the Python reference, concatenate back to the
    word, and prefer the LONGER piece where both match."""
    from newyork_taxi_etl_spark.operators.wordpiece import (
        greedy_segment_words,
    )

    words = spark.createDataFrame(
        [("abcd", 3), ("aabb", 2), ("xaby", 1), ("q", 1)],
        "w string, freq long",
    )
    vocab_set = set("abcdxyq") | {"ab", "abc", "bb"}
    vocab = spark.createDataFrame(
        [(p,) for p in sorted(vocab_set)], "piece string"
    )
    got = {
        r["w"]: list(r["pieces"])
        for r in greedy_segment_words(words, vocab).collect()
    }
    assert got["abcd"] == ["abc", "d"]  # longest-first beats 'ab'
    assert got["aabb"] == ["a", "ab", "b"]  # greedy, NOT the 2-piece DP
    for w, pieces in got.items():
        assert pieces == _py_greedy(w, vocab_set), w
        assert "".join(pieces) == w


def test_wordpiece_greedy_over_trained_vocab(spark):
    """End-to-end: segment the real corpus word vocab against the
    trained-merge vocabulary (singles + 3 merges); roundtrip holds for
    every word and each emitted piece is in the vocabulary."""
    from newyork_taxi_etl_spark.operators.unigram import word_vocab
    from newyork_taxi_etl_spark.operators.wordpiece import (
        greedy_segment_words,
        vocab_from_tops,
    )
    from newyork_taxi_etl_spark.queries.text import _wp_train_tops

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    words = word_vocab(docs)
    # vocab_from_tops unions the corpus single characters itself (the
    # fold's every-position-covered precondition)
    vocab = vocab_from_tops(words, _wp_train_tops(docs)).localCheckpoint()
    vocab_set = {r["piece"] for r in vocab.collect()}
    segs = greedy_segment_words(words, vocab).collect()
    assert len(segs) > 0
    for r in segs:
        assert "".join(r["pieces"]) == r["w"], r
        assert all(p in vocab_set for p in r["pieces"]), r
        assert r["pieces"] == _py_greedy(r["w"], vocab_set), r


def test_wordpiece_greedy_duckdb_twin_matches_spark(spark):
    """The DuckDB greedy fold (scalar cursor||chr(1)||cut-positions
    accumulator — no word bytes ever enter the accumulator) must emit
    the identical segmentation as the Spark struct-accumulator fold for
    every corpus vocab word — pinning the wordpiece_greedy_segment
    oracle."""
    import duckdb

    from newyork_taxi_etl_spark.operators.unigram import word_vocab
    from newyork_taxi_etl_spark.operators.wordpiece import (
        greedy_segment_sql_duckdb,
        greedy_segment_words,
        vocab_from_tops,
    )
    from newyork_taxi_etl_spark.queries.text import _wp_train_tops

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    words = word_vocab(docs)
    vocab = vocab_from_tops(words, _wp_train_tops(docs)).localCheckpoint()

    got_spark = {
        r["w"]: list(r["pieces"])
        for r in greedy_segment_words(words, vocab).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE words AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('{r['w']}', {r['freq']})" for r in words.collect()
        )
        + ") AS t(w, freq)"
    )
    con.execute(
        "CREATE TABLE vocab AS SELECT * FROM (VALUES "
        + ", ".join(f"('{r['piece']}')" for r in vocab.collect())
        + ") AS t(piece)"
    )
    got_duck = {
        w: list(pieces)
        for w, _freq, pieces in con.execute(
            greedy_segment_sql_duckdb("words", "vocab")
        ).fetchall()
    }
    con.close()
    assert got_spark and set(got_spark) == set(got_duck)
    for w, pieces in got_spark.items():
        assert pieces == got_duck[w], (w, pieces, got_duck[w])
