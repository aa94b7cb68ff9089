"""Round-12 session-2 additions: readability, character-coverage budget
(batch + ingest twin), and their semantic invariants the oracle
differential cannot see (hand-computed references, planted fixtures,
batching invariance)."""

from __future__ import annotations

import uuid

import pytest

from newyork_taxi_etl_spark.queries.text import (
    _char_counts,
    _char_coverage_finalize,
    _readability_finalize,
    _readability_terms,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


@pytest.mark.quick
def test_readability_planted_punctuation(spark):
    """Sentence splitting is REAL when punctuation exists: a planted
    3-sentence doc must score against n_sents=3, not the corpus
    fallback of 1 — hand-computed Flesch."""
    text = "The cat sat. The dog ran! A big map?"
    rows = [(1, "en", text)]
    out = _readability_finalize(_readability_terms(_docs(spark, rows))).collect()
    assert len(out) == 1
    r = out[0]
    # 9 words, 3 sentences; syllables by vowel-group+novowel rule:
    # the(1) cat(1) sat(1). the(1) dog(1) ran(1)! a(1) big(1) map(1)? = 9
    n_words, n_sents, n_syll = 9, 3, 9
    wps = n_words / n_sents
    spw = n_syll / n_words
    fre = 206.835 - 1.015 * wps - 84.6 * spw
    assert r.n_docs == 1
    assert r.avg_words_per_sentence == round(wps, 6)
    assert r.avg_syllables_per_word == round(spw, 6)
    assert r.avg_flesch == round(fre, 6)


@pytest.mark.quick
def test_readability_fallback_and_min_syllable(spark):
    """No punctuation -> single-sentence fallback; vowel-less words get
    the min-1 syllable correction; vowel GROUPS count once ('see' = 1)."""
    rows = [(1, "xx", "zz bcd see")]
    out = _readability_finalize(_readability_terms(_docs(spark, rows))).collect()
    r = out[0]
    # 3 words, 1 sentence (fallback), syllables: zz=1 (novowel), bcd=1
    # (novowel), see=1 (one vowel group) = 3
    assert r.avg_words_per_sentence == 3.0
    assert r.avg_syllables_per_word == 1.0
    assert r.avg_flesch == round(206.835 - 1.015 * 3 - 84.6 * 1, 6)


@pytest.mark.quick
def test_char_coverage_hand_computed(spark):
    """Planted alphabet: counts a=3 b=2 c=1 (space excluded), total 6.
    90% needs cum>=5.4 -> 3 chars; 99.5% needs cum>=5.97 -> 3 chars;
    top char 'a' with share 0.5."""
    rows = [(1, "xx", "aaab bc")]
    out = _char_coverage_finalize(_char_counts(_docs(spark, rows))).collect()
    r = out[0]
    assert (r.n_chars_total, r.alphabet_size) == (6, 3)
    assert (r.chars_for_90, r.chars_for_995) == (3, 3)
    assert (r.top_char, r.top_share) == ("a", 0.5)


@pytest.mark.quick
def test_char_coverage_tie_break_deterministic(spark):
    """Equal counts rank lexicographically: 'ab' twice -> a and b tie at
    2; rank-1 must be 'a' on both engines (cnt DESC, ch ASC)."""
    rows = [(1, "xx", "ab ab")]
    r = _char_coverage_finalize(_char_counts(_docs(spark, rows))).collect()[0]
    assert r.top_char == "a"
    assert r.chars_for_90 == 2  # 2 of 4 chars is only 50%; need both


def test_streaming_char_coverage_matches_batch_any_slicing(spark, tmp_path):
    """Drained == batch bit-for-bit under 1 vs 4 slices: integer
    (lang, char) partials commute, so slicing cannot matter."""
    from newyork_taxi_etl_spark.sources.readers import table_path
    from newyork_taxi_etl_spark.streaming import windows as W

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(table_path(sf_dir, "documents"))
    batch = [
        tuple(r)
        for r in _char_coverage_finalize(_char_counts(docs)).collect()
    ]
    for n_slices in (1, 4):
        got = [
            tuple(r)
            for r in W.run_streaming_char_coverage_ingest(
                spark, docs, str(tmp_path / f"s{n_slices}"), n_slices=n_slices,
                cache_key=uuid.uuid4().hex,
            ).collect()
        ]
        assert got == batch, f"slicing {n_slices} diverged"


SF = "/root/testdata/sf0.001"


def test_hill_matches_python_reference(spark):
    """Hill estimator vs a direct Python recomputation on the real
    sf0.001 corpus (order statistics + log-ratio mean), plus the
    analytic sanity alpha > 0."""
    import math

    import duckdb

    from newyork_taxi_etl_spark.registry import queries

    got = {
        r.lang: r
        for r in queries()["hill_tail_index"](spark, SF).collect()
    }
    rows = duckdb.sql(
        f"SELECT lang, n_chars, doc_id FROM '{SF}/documents.parquet' "
        "WHERE n_chars > 0"
    ).fetchall()
    by_lang = {}
    for lang, n_chars, doc_id in rows:
        by_lang.setdefault(lang, []).append((-n_chars, doc_id, n_chars))
    for lang, items in by_lang.items():
        items.sort()
        if len(items) < 65:
            assert lang not in got
            continue
        xs = [x for _, _, x in items[:65]]
        xk1 = xs[64]
        lsum = sum(round(math.log(x) - math.log(xk1), 12) for x in xs[:64])
        r = got[lang]
        assert r.tail_threshold == xk1
        assert abs(r.xi_hill - round(lsum / 64, 6)) <= 2e-6
        if lsum:
            assert abs(r.alpha_tail - round(64.0 / lsum, 6)) <= 2e-6
            assert r.alpha_tail > 0


def test_ewma_matches_recursive_reference(spark):
    """The closed-form pair join IS the textbook recursion: recompute
    s_t = 0.3 x_t + 0.7 s_(t-1) in Python over the real daily series
    and compare sigma / flags / last EWMA."""
    import math
    from decimal import Decimal

    import duckdb

    from newyork_taxi_etl_spark.registry import queries

    got = {
        r.event_type: r
        for r in queries()["ewma_anomaly_flags"](spark, SF).collect()
    }
    rows = duckdb.sql(
        "SELECT event_type, CAST(ts AS DATE) AS day, "
        "ROUND(CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) "
        "AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE), 6) AS x "
        f"FROM '{SF}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    series = {}
    for et, _, x in rows:
        series.setdefault(et, []).append(float(x))
    for et, xs in series.items():
        s = xs[0]
        resids = []
        for x in xs[1:]:
            resids.append(x - s)
            s = 0.3 * x + 0.7 * s
        r = got[et]
        assert r.n_days == len(xs)
        assert abs(r.last_ewma - s) <= 1e-4, et
        n = len(resids)
        mu = sum(resids) / n
        sigma = math.sqrt(sum((v - mu) ** 2 for v in resids) / (n - 1))
        assert abs(r.sigma_resid - sigma) <= 1e-4, et
        # NOTE sigma here is mean-centered; the query's control-chart
        # sigma uses the same sum/sumsq identity -> equal by algebra
        flags = sum(1 for v in resids if abs(v) > 3 * sigma)
        assert r.n_flags == flags, et
        assert abs(r.max_abs_resid - max(abs(v) for v in resids)) <= 1e-4


def test_label_margin_matches_numpy(spark):
    """Within/between/margin vs a numpy recomputation on sf0.001."""
    import duckdb
    import numpy as np

    from newyork_taxi_etl_spark.registry import queries

    got = {
        r.label: r
        for r in queries()["embedding_label_margin"](spark, SF).collect()
    }
    rows = duckdb.sql(
        f"SELECT label, embedding FROM '{SF}/embeddings.parquet'"
    ).fetchall()
    by_label = {}
    for label, vec in rows:
        by_label.setdefault(label, []).append(np.array(vec, dtype=np.float64))
    cents = {l: np.mean(np.stack(v), axis=0) for l, v in by_label.items()}
    for l, vecs in by_label.items():
        within = float(
            np.mean([np.linalg.norm(v - cents[l]) for v in vecs])
        )
        dists = {
            o: float(np.linalg.norm(cents[l] - cents[o]))
            for o in cents
            if o != l
        }
        nearest = min(dists, key=lambda o: (dists[o], o))
        r = got[l]
        assert r.n_vecs == len(vecs)
        assert abs(r.within_mean - within) <= 1e-4
        assert abs(r.between_min - dists[nearest]) <= 1e-4
        assert r.nearest_label == nearest
        assert abs(r.margin - dists[nearest] / within) <= 1e-3


@pytest.mark.quick
def test_oov_fallback_planted_rare_char(spark):
    """A char below the 99.5% mass cut must flag every token containing
    it: corpus a/b/c dominate, one 'ß' token -> budget {a,b,c}, the
    'aß' instances count as OOV on the instance AND type rate."""
    from newyork_taxi_etl_spark.registry import queries

    qf = queries()["oov_fallback_rate"]
    # 100 docs of clean text + 1 doc carrying the rare char twice
    rows = [(i, "xx", "aaaa bbbb cccc") for i in range(100)]
    rows.append((100, "xx", "aß aß"))
    docs = _docs(spark, rows)

    # drive the registered builder against a temp parquet dir
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        out = qf(spark, td).collect()
    r = out[0]
    # alphabet: a(402) b(400) c(400) ß(2), total 1204; cum at c covers
    # 1202/1204 = 99.83% >= 99.5% -> budget 3 chars, ß out of budget
    assert r.budget_size == 3
    # token vocab: aaaa, bbbb, cccc, aß; instances 100+100+100+2
    assert r.n_types == 4 and r.n_instances == 302
    assert r.oov_instance_rate == round(2 / 302, 6)
    assert r.oov_type_rate == 0.25


@pytest.mark.quick
def test_selection_curve_identities(spark):
    """Conservation + monotonicity on real data: deciles partition the
    corpus, cumulative token share is nondecreasing and ends at 1.0,
    and quality floors decline with decile (best first)."""
    import duckdb

    from newyork_taxi_etl_spark.registry import queries

    rows = queries()["quality_selection_curve"](spark, SF).collect()
    n_corpus = duckdb.sql(
        f"SELECT COUNT(*) FROM '{SF}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_corpus
    assert [r.decile for r in rows] == list(range(1, len(rows) + 1))
    shares = [r.cum_token_share for r in rows]
    assert shares == sorted(shares)
    assert shares[-1] == 1.0
    floors = [r.min_quality for r in rows]
    assert floors == sorted(floors, reverse=True)


def test_isotropy_matches_numpy(spark):
    """Geometry audit vs numpy on sf0.001: mean/cv of norms, centroid
    norm, anisotropy ratio."""
    import duckdb
    import numpy as np

    from newyork_taxi_etl_spark.registry import queries

    got = {
        r.label: r
        for r in queries()["embedding_isotropy_audit"](spark, SF).collect()
    }
    rows = duckdb.sql(
        f"SELECT label, embedding FROM '{SF}/embeddings.parquet'"
    ).fetchall()
    by_label = {}
    for label, vec in rows:
        by_label.setdefault(label, []).append(np.array(vec, dtype=np.float64))
    for l, vecs in by_label.items():
        M = np.stack(vecs)
        norms = np.linalg.norm(M, axis=1)
        cent = M.mean(axis=0)
        r = got[l]
        assert r.n_vecs == len(vecs)
        assert abs(r.mean_norm - norms.mean()) <= 1e-4
        cv = norms.std(ddof=1) / norms.mean()
        # the query quantizes sub-3e-5 spread to exactly 0 (noise floor)
        assert abs(r.norm_cv - cv) <= 1e-4
        assert abs(r.centroid_norm - np.linalg.norm(cent)) <= 1e-4
        iso = float(np.dot(cent, cent) / (norms**2).mean())
        assert abs(r.isotropy - iso) <= 1e-4
        # unit-normalized synthetic embeddings: sane ranges
        assert 0 <= r.isotropy <= 1


def test_source_matrix_algebra_equals_enumeration(spark):
    """The counts-not-pairs algebra must equal brute-force pair
    enumeration on the real sf0.001 corpus."""
    from collections import defaultdict

    import duckdb

    from newyork_taxi_etl_spark.registry import queries

    got = {
        (r.source_a, r.source_b): (r.shared_keys, r.pair_mass)
        for r in queries()["dedup_source_matrix"](spark, SF).collect()
    }
    rows = duckdb.sql(
        "SELECT string_split(text, ' ')[1] || ' ' || "
        "string_split(text, ' ')[2] AS k, source "
        f"FROM '{SF}/documents.parquet' "
        "WHERE len(string_split(text, ' ')) >= 2"
    ).fetchall()
    groups = defaultdict(list)
    for k, src in rows:
        groups[k].append(src)
    mass = defaultdict(int)
    keys = defaultdict(set)
    for k, members in groups.items():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = sorted((members[i], members[j]))
                mass[(a, b)] += 1
                keys[(a, b)].add(k)
    want = {p: (len(keys[p]), m) for p, m in mass.items() if m > 0}
    assert got == want


def test_semantic_decontamination_planted_clone(spark, tmp_path):
    """An exact train-side clone of an eval vector MUST surface: clones
    share every sign-LSH band bucket (candidate by construction), cross
    the split, and score cosine 1.0 >= the 0.95 leak gate."""
    from pyspark.sql import functions as F

    from newyork_taxi_etl_spark.registry import queries

    q = queries()["semantic_decontamination"]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    donor = emb.filter(F.col("vec_id") == 20).select(
        F.col("embedding").alias("clone")
    )
    planted = (
        emb.crossJoin(F.broadcast(donor))
        .select(
            "vec_id",
            F.when(F.col("vec_id") == 21, F.col("clone"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
            "label",
        )
    )
    planted.write.parquet(f"{tmp_path}/embeddings.parquet")
    r = q(spark, str(tmp_path)).collect()[0]
    assert r.n_leaked >= 1
    assert r.max_cross_cosine == 1.0
    # baseline: the real corpus has no planted clones
    r0 = q(spark, SF).collect()[0]
    assert r0.n_leaked == 0


def test_lsh_band_sweep_gates(spark):
    """The two LSH axes must behave as theory says on real data:
    OR-construction (more bands) buys recall monotonically and the
    deployed 12x4 point clears 0.85; AND-construction (more bits)
    shrinks the candidate set and raises precision."""
    from newyork_taxi_etl_spark.registry import queries

    rows = {
        (r.n_bands, r.bits): r
        for r in queries()["lsh_band_sweep"](spark, SF).collect()
    }
    r2, r6, r12 = rows[(2, 4)], rows[(6, 4)], rows[(12, 4)]
    r12b6 = rows[(12, 6)]
    assert r2.recall <= r6.recall <= r12.recall
    assert r12.recall >= 0.85
    assert r12b6.n_candidates < r12.n_candidates
    assert r12b6.precision > r12.precision
    # conservation: hits never exceed truth or candidates
    for r in rows.values():
        assert r.n_hits <= r.n_truth
        assert r.n_hits <= r.n_candidates


# ---------------------------------------------------------------------------
# Property tests: the readability terms and coverage budget vs direct
# Python recomputation over random corpora (hypothesis).

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORD = st.text(
    alphabet="abcz.!?|", min_size=1, max_size=6
).filter(lambda w: w.strip() != "")
_TEXT = st.lists(_WORD, min_size=1, max_size=12).map(" ".join)
_CORPUS = st.lists(_TEXT, min_size=1, max_size=10)

_PROP_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _py_flesch(text):
    import re

    words = [t for t in text.lower().split(" ") if t]
    if not words:
        return None
    sents = max(len(re.findall(r"[.!?]+", text.lower())), 1)
    syll = len(re.findall(r"[aeiouy]+", text.lower())) + sum(
        1 for w in words if not re.search(r"[aeiouy]", w)
    )
    wps = len(words) / sents
    spw = syll / len(words)
    return wps, spw, 206.835 - 1.015 * wps - 84.6 * spw


@settings(**_PROP_SETTINGS)
@given(_CORPUS)
def test_readability_terms_match_python(spark, texts):
    """Spark per-doc Flesch terms == the regex recomputation for ANY
    random corpus over an alphabet that stresses the vowel / no-vowel /
    punctuation paths."""
    rows = [(i, "xx", t) for i, t in enumerate(texts)]
    out = _readability_finalize(
        _readability_terms(_docs(spark, rows))
    ).collect()
    refs = [_py_flesch(t) for t in texts]
    refs = [r for r in refs if r is not None]
    if not refs:
        assert out == []
        return
    n = len(refs)
    want_wps = round(sum(round(r[0], 12) for r in refs) / n, 6)
    want_spw = round(sum(round(r[1], 12) for r in refs) / n, 6)
    want_fre = round(sum(round(r[2], 12) for r in refs) / n, 6)
    r = out[0]
    assert abs(r.avg_words_per_sentence - want_wps) <= 1e-6
    assert abs(r.avg_syllables_per_word - want_spw) <= 1e-6
    assert abs(r.avg_flesch - want_fre) <= 1e-6


@settings(**_PROP_SETTINGS)
@given(_CORPUS)
def test_char_coverage_budget_matches_python(spark, texts):
    """Coverage budget == direct recomputation: rank chars by (count
    desc, char asc), integer thresholds, for ANY random corpus."""
    from collections import Counter

    rows = [(i, "xx", t) for i, t in enumerate(texts)]
    out = _char_coverage_finalize(_char_counts(_docs(spark, rows))).collect()
    counts = Counter(
        c for t in texts for c in t.lower() if c != " "
    )
    if not counts:
        assert out == []
        return
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    cum, k90, k995 = 0, None, None
    for i, (_, c) in enumerate(ranked, 1):
        cum += c
        if k90 is None and cum * 10 >= 9 * total:
            k90 = i
        if k995 is None and cum * 1000 >= 995 * total:
            k995 = i
    r = out[0]
    assert r.n_chars_total == total
    assert r.alphabet_size == len(ranked)
    assert (r.chars_for_90, r.chars_for_995) == (k90, k995)
    assert r.top_char == ranked[0][0]
    assert r.top_share == round(ranked[0][1] / total, 6)


def test_heavy_hitters_planted_and_slicing_invariant(spark, tmp_path):
    """Planted shares: 'hot' at 1% crosses the 0.5% gate, 'warm' at
    0.4% does not, unique fillers never do; and the drained table is
    identical under 1 vs 4 slices (integer sums commute)."""
    from newyork_taxi_etl_spark.streaming import windows as W

    filler = " ".join(f"f{i}" for i in range(986))
    rows = [(0, "hot " * 10 + "warm " * 4 + filler)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    outs = []
    for n_slices in (1, 4):
        out = [
            tuple(r)
            for r in W.run_streaming_heavy_hitters(
                spark, docs, str(tmp_path / f"s{n_slices}"), n_slices=n_slices
            ).collect()
        ]
        outs.append(out)
    assert outs[0] == outs[1]
    got = outs[0]
    assert got[0][1] == "hot" and got[0][2] == 10
    toks = {t for _, t, _, _ in got}
    assert "warm" not in toks  # 0.4% < phi
    assert all(not t.startswith("f") for t in toks)


def test_heaps_recovers_sqrt_growth(spark, tmp_path):
    """A corpus built so vocab(N) ~ sqrt(N) must fit beta ~ 0.5; the
    synthetic 31-word testdata corpus saturates to beta ~ 0 (checked
    against the registered run on real data)."""
    import math

    from newyork_taxi_etl_spark.registry import queries

    q = queries()["heaps_law_exponent"]
    # 200 docs x 10 tokens; global token k carries tok = t_floor(sqrt(k))
    rows = []
    k = 1
    for i in range(200):
        toks = []
        for _ in range(10):
            toks.append(f"t{int(math.isqrt(k))}")
            k += 1
        rows.append((i, "xx", "src", " ".join(toks), len(" ".join(toks))))
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string, n_chars long"
    )
    docs.write.parquet(f"{tmp_path}/documents.parquet")
    out = q(spark, str(tmp_path)).collect()
    beta = out[0].beta_heaps
    assert 0.40 <= beta <= 0.60, beta
    # conservation: vocab nondecreasing, last point sees every token
    vs = [r.vocab for r in out]
    assert vs == sorted(vs)
    assert vs[-1] == int(math.isqrt(2000))
    # the real synthetic corpus saturates: beta ~ 0
    real = q(spark, SF).collect()
    assert abs(real[0].beta_heaps) <= 0.05


def test_zipf_by_source_matches_python(spark):
    """Per-source OLS vs direct Python recomputation on sf0.001 (rank
    within source by (cnt desc, tok asc) over the composite fold)."""
    from collections import defaultdict
    import math

    import duckdb

    from newyork_taxi_etl_spark.registry import queries

    got = {
        r.source: r
        for r in queries()["zipf_slope_by_source"](spark, SF).collect()
    }
    rows = duckdb.sql(
        "SELECT source, tok, COUNT(*) AS cnt FROM ("
        "SELECT source, unnest(string_split(text, ' ')) AS tok "
        f"FROM '{SF}/documents.parquet') WHERE tok <> '' GROUP BY 1, 2"
    ).fetchall()
    by_src = defaultdict(list)
    for src, tok, cnt in rows:
        by_src[src].append((-cnt, tok, cnt))
    for src, items in by_src.items():
        items.sort()
        xs = [round(math.log(i + 1), 12) for i in range(len(items))]
        ys = [round(math.log(c), 12) for _, _, c in items]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(round(x * y, 12) for x, y in zip(xs, ys))
        sxx = sum(round(x * x, 12) for x in xs)
        den = n * sxx - sx * sx
        r = got[src]
        assert r.vocab == n
        assert r.n_instances == sum(c for _, _, c in items)
        if den:
            slope = (n * sxy - sx * sy) / den
            assert abs(r.slope - slope) <= 1e-4, src
            assert abs(r.intercept - (sy - slope * sx) / n) <= 1e-4, src
