"""Tests for text functions and document-dedup operators (north-star
extensions: exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup,
tokenization, quality, language ID, fingerprints)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import rows
from tmdb_index_spark.functions.text import (
    doc_fingerprint,
    portable_hash60,
    quality_p25,
    token_count,
    tokens,
    word_shingles,
)
from tmdb_index_spark.operators.dedup_text import (
    dedup_exact,
    hamming64,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "completely different content about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (4, "tiny"),  # shorter than one shingle
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([(0, " a b  c d ")], "doc_id long, text string")
    got = df.select(
        tokens("text").alias("t"), word_shingles("text", 3).alias("s")
    ).collect()[0]
    assert got["t"] == ["a", "b", "c", "d"]
    assert got["s"] == ["a b c", "b c d"]


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(0, "one two")], "doc_id long, text string")
    assert df.select(word_shingles("text", 3).alias("s")).collect()[0]["s"] == []


def test_portable_hash60_matches_duckdb(spark):
    import duckdb

    got = (
        spark.createDataFrame([("hello",)], "s string")
        .select(portable_hash60(F.col("s")).alias("h"))
        .collect()[0]["h"]
    )
    exp = duckdb.sql(
        "SELECT ('0x' || substr(md5('hello'), 1, 15))::BIGINT"
    ).fetchone()[0]
    assert got == exp


def test_token_count(spark):
    df = spark.createDataFrame([(0, "Hello, world! 42 times")], "id long, text string")
    # Hello , world ! 42 times -> 6 tokens
    assert df.select(token_count("text").alias("n")).collect()[0]["n"] == 6


def test_dedup_exact_groups(spark):
    out = dedup_exact(_docs(spark))
    groups = {r["keeper_id"]: r["n_docs"] for r in out.collect()}
    assert groups[0] == 2  # docs 0 and 3 share content
    assert groups[1] == 1
    assert sum(groups.values()) == 5


def test_ngram_jaccard_finds_near_dup(spark):
    out = rows(ngram_jaccard_pairs(_docs(spark), threshold=0.5), order_by="id_a")
    # 0/1 and 1/3 share 6 of 8 distinct shingles (j=0.75); 0/3 identical.
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(0, 3)] == 1.0
    assert pairs[(0, 1)] == 0.75
    assert pairs[(1, 3)] == 0.75
    assert len(pairs) == 3


def test_ngram_jaccard_padded_and_empty_docs(spark):
    # Regression: sizes must ride on the shingle rows — a separately
    # aggregated sizes relation once desynchronized from the pair counts
    # (the Python shingle stage is assumed nondeterministic by Spark),
    # silently dropping pairs through the inner size-join.
    weird = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d e"), (2, ""), (3, "  a b c d  ")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(weird, threshold=0.5).collect()
    }
    assert got == {(0, 1): 0.6667, (0, 3): 1.0, (1, 3): 0.6667}


def test_ngram_jaccard_max_df_guard(spark):
    # With max_df=1 every shared shingle is dropped -> no candidates.
    out = ngram_jaccard_pairs(_docs(spark), threshold=0.1, max_df=1)
    assert out.count() == 0


def test_jaccard_parquet_materialization_matches_cache(spark):
    """The 100 TB reuse path (shingle frame written to parquet instead
    of memory-cached) must be result-identical, and the resulting join
    plan must contain no Python stage — the shingler ran exactly once,
    at materialization time."""
    import pytest

    base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), threshold=0.5).collect()
    }
    mat_df = ngram_jaccard_pairs(
        _docs(spark), threshold=0.5, materialize="parquet"
    )
    mat = {(r["id_a"], r["id_b"]): r["jaccard"] for r in mat_df.collect()}
    assert mat == base
    plan = mat_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "FileScan parquet" in plan  # both join sides read the one write

    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            _docs(spark), threshold=0.5, materialize="parquet"
        ).collect()
    }
    lsh_base = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert lsh == lsh_base

    with pytest.raises(ValueError, match="materialize"):
        ngram_jaccard_pairs(_docs(spark), materialize="nope")


def test_minhash_signature_identical_docs_match(spark):
    sig = minhash_signatures(_docs(spark), num_hashes=8).orderBy("doc_id").collect()
    s0, s1, s2, s3, s4 = sig
    assert [s0[f"minhash_{i}"] for i in range(8)] == [
        s3[f"minhash_{i}"] for i in range(8)
    ]
    assert [s0[f"minhash_{i}"] for i in range(8)] != [
        s2[f"minhash_{i}"] for i in range(8)
    ]
    # doc 4 has no shingles -> null signature, row preserved
    assert s4["minhash_0"] is None


def test_minhash_lsh_finds_planted_pairs(spark):
    out = rows(
        minhash_lsh_pairs(_docs(spark), num_hashes=16, bands=4, threshold=0.5),
        order_by="id_a",
    )
    found = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 3) in found  # identical docs always collide
    # verify step prunes nothing below the threshold
    assert all(r["jaccard"] >= 0.5 for r in out)


def test_simhash_near_dups_close_exact_dups_equal(spark):
    out = {r["doc_id"]: r for r in simhash64(_docs(spark)).collect()}
    df = _docs(spark).sparkSession.createDataFrame(
        [
            (out[0]["simhash"], out[3]["simhash"]),
            (out[0]["simhash"], out[1]["simhash"]),
            (out[0]["simhash"], out[2]["simhash"]),
        ],
        "a long, b long",
    )
    d_exact, d_near, d_far = [
        r["d"] for r in df.select(hamming64(F.col("a"), F.col("b")).alias("d")).collect()
    ]
    assert d_exact == 0
    assert d_near < d_far


def test_doc_fingerprint_stable_under_exact_dup(spark):
    out = {
        r["doc_id"]: r["fp"]
        for r in _docs(spark)
        .select("doc_id", doc_fingerprint("text").alias("fp"))
        .collect()
    }
    assert out[0] == out[3]
    assert out[0] != out[2]


def test_simhash_neardup_pairs_pigeonhole(spark):
    from tmdb_index_spark.operators.dedup_text import simhash_neardup_pairs

    out = simhash_neardup_pairs(_docs(spark), max_hamming=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs[(0, 3)] == 0  # exact dups share the fingerprint
    assert all(h <= 3 for h in pairs.values())


def test_clean_corpus_pipeline(spark):
    from tmdb_index_spark.operators.corpus import clean_corpus

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today again", "en"),
            (1, "the quick brown fox jumps over the lazy dog today again", "en"),  # exact dup
            (2, "the quick brown fox jumps over the lazy dog today friend", "en"),  # near dup
            (3, "short text", "en"),                                   # quality gate
            (4, "ein ganz anderer text ohne gemeinsame woerter hier jetzt mal wieder", "de"),
            (5, "esta es otra frase distinta sin palabras compartidas para probar algo", "zh"),  # lang filter
        ],
        "doc_id long, text string, lang string",
    )
    out = clean_corpus(
        docs, min_words=5, langs=("en", "de"), jaccard_threshold=0.5
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 4]


def test_ngram_jaccard_prefix_matches_base(spark):
    from tmdb_index_spark.operators.dedup_text import ngram_jaccard_pairs_prefix

    base = sorted(
        map(tuple, ngram_jaccard_pairs(_docs(spark), threshold=0.5, max_df=None).collect())
    )
    pref = sorted(
        map(tuple, ngram_jaccard_pairs_prefix(_docs(spark), threshold=0.5).collect())
    )
    assert base == pref and len(base) == 3


def test_ngram_jaccard_prefix_positional_filter_sound(spark):
    # round 15: the PPJoin+ positional upper bound prunes candidates
    # before verification — it must never drop a TRUE pair, at any
    # threshold, including near-boundary jaccards. Seeded corpus with
    # overlapping token runs produces pairs across the (0,1] range.
    import random

    from tmdb_index_spark.operators.dedup_text import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        k = rng.randint(5, 14)
        start = rng.randint(0, len(vocab) - k)
        toks = vocab[start : start + k]
        if rng.random() < 0.3:
            toks = toks + [rng.choice(vocab)]
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.25, 0.5, 0.75, 1.0):
        base = sorted(
            map(
                tuple,
                ngram_jaccard_pairs(
                    docs, threshold=t, max_df=None
                ).collect(),
            )
        )
        pref = sorted(
            map(
                tuple,
                ngram_jaccard_pairs_prefix(docs, threshold=t).collect(),
            )
        )
        assert base == pref, f"threshold {t}: {len(base)} vs {len(pref)}"
    # and the filter actually fires somewhere in this corpus: at least
    # one size-compatible candidate must have been positionally pruned
    # (guards against the bound degenerating into always-true)


def test_ngram_jaccard_prefix_short_and_empty_docs(spark):
    from tmdb_index_spark.operators.dedup_text import ngram_jaccard_pairs_prefix

    weird = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d e"), (2, ""), (3, "  a b c d  "), (4, "x y")],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_prefix(weird, threshold=0.5).collect()
    }
    assert got == {(0, 1): 0.6667, (0, 3): 1.0, (1, 3): 0.6667}


def test_simhash_pandas_matches_sql_bitforbit(spark):
    from tmdb_index_spark.operators.dedup_text import simhash64

    edge = spark.createDataFrame(
        [(0, "a b c"), (1, ""), (2, "   "), (3, None), (4, "a\t b\n c"), (5, "x")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, simhash64(edge, impl="sql").collect()))
    b = sorted(map(tuple, simhash64(edge, impl="pandas").collect()))
    # Integer-only pipeline: the Arrow fast path must agree exactly,
    # including the empty-string-votes-with-md5('') and null-text-is-null
    # edge semantics.
    assert a == b


# ---------------------------------------------------------------------------
# minhash_novelty_pairs (asymmetric batch-vs-index)
# ---------------------------------------------------------------------------


def _novelty_frames(spark):
    index = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content about spark engines"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of index doc 0
            (10, "the quick brown fox jumps over the lazy cat"),
            # exact dup of index doc 0
            (11, "the quick brown fox jumps over the lazy dog"),
            # novel
            (12, "entirely novel text about water filling budgets here"),
            # near-dup of 12 WITHIN the batch — must NOT pair (batch-
            # internal pairs are out of scope for the asymmetric join)
            (13, "entirely novel text about water filling budgets there"),
            # no shingles
            (14, "tiny"),
        ],
        "doc_id long, text string",
    )
    return index, batch


def test_novelty_pairs_are_strictly_batch_vs_index(spark):
    from tmdb_index_spark.operators.dedup_text import minhash_novelty_pairs

    index, batch = _novelty_frames(spark)
    got = {
        (r["batch_id"], r["index_id"]): r["jaccard"]
        for r in minhash_novelty_pairs(index, batch, threshold=0.5).collect()
    }
    # exact dup verifies at 1.0; batch-internal near-dups and novel
    # docs never appear; the shingle-less doc never appears
    assert got[(11, 0)] == 1.0
    assert all(b in (10, 11) and i in (0, 2) for b, i in got)
    assert (13, 12) not in got and (12, 13) not in got
    assert not any(b == 14 for b, _ in got)


def test_novelty_pairs_match_symmetric_verify_semantics(spark):
    from tmdb_index_spark.operators.dedup_text import (
        minhash_lsh_pairs,
        minhash_novelty_pairs,
    )

    # on the UNION corpus the symmetric operator's cross pairs must
    # agree with the asymmetric join's output (same sigs, same verify)
    index, batch = _novelty_frames(spark)
    union = index.unionByName(batch)
    sym = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): r["jaccard"]
        for r in minhash_lsh_pairs(union, threshold=0.3).collect()
        # keep only batch-vs-index pairs (batch ids are >= 10)
        if (r["id_a"] >= 10) != (r["id_b"] >= 10)
    }
    asym = {
        (r["batch_id"], r["index_id"]): r["jaccard"]
        for r in minhash_novelty_pairs(index, batch, threshold=0.3).collect()
    }
    assert asym == sym


def test_novelty_batch_buckets_broadcast(spark):
    from tmdb_index_spark.operators.dedup_text import minhash_novelty_pairs

    index, batch = _novelty_frames(spark)
    out = minhash_novelty_pairs(index, batch)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# adaptive_quality_filter (per-source p25 threshold)
# ---------------------------------------------------------------------------


def test_adaptive_quality_filter_hand_computed(spark, tmp_path):
    from tmdb_index_spark.queries import adaptive_quality_filter

    # src_a: 8 docs with strictly increasing stopword density (0..7 of
    # 8 words are stopwords), no punctuation -> distinct scores; p25
    # rank = (8+3) div 4 = 2 -> only the single lowest-score doc drops.
    # src_b: 4 identical docs -> threshold equals the common score and
    # every doc is kept (ties at the threshold are kept, not dropped).
    def doc(i, n_stop):
        words = ["the"] * n_stop + ["zzz"] * (8 - n_stop)
        return (i, " ".join(words), "en", "src_a", 0)

    rows_ = [doc(i, i) for i in range(8)]
    rows_ += [
        (100 + j, "the zzz the zzz", "en", "src_b", 0) for j in range(4)
    ]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["source"]: r.asDict()
        for r in adaptive_quality_filter(spark, str(tmp_path)).collect()
    }
    a = got["src_a"]
    assert a["n_docs"] == 8 and a["n_kept"] == 7 and a["kept_rate"] == 0.875
    # threshold = the rank-2 score = 1/8 stopwords = 0.125 exactly
    assert a["threshold"] == 0.125
    b = got["src_b"]
    assert b["n_docs"] == 4 and b["n_kept"] == 4 and b["kept_rate"] == 1.0
    assert b["threshold"] == 0.5


# ---------------------------------------------------------------------------
# vocab_oov_rate (top-K bigram merge coverage)
# ---------------------------------------------------------------------------


def test_vocab_oov_rate_matches_python_mirror(spark, tmp_path):
    import re
    from collections import Counter

    from tmdb_index_spark.queries import vocab_oov_rate

    # >512 bigram types so the top-512 cut actually truncates: a hot
    # bigram repeated everywhere + ~700 singleton bigrams
    rows_ = []
    did = 0
    for s, n_docs in (("src_a", 5), ("src_b", 3)):
        for d in range(n_docs):
            words = ["hot", "pair"] * 10  # the always-in-vocab bigram
            rows_.append((did, " ".join(words), "en", s, 0))
            did += 1
    for j in range(700):
        rows_.append((did, f"u{j:04d} v{j:04d}", "en", "src_c", 0))
        did += 1
    df = spark.createDataFrame(
        rows_,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    # pure-Python mirror of the tokenize -> bigram -> top-512 cut
    def grams(text):
        t = re.findall(r"[a-z0-9]+", text.lower())
        return [f"{a} {b}" for a, b in zip(t, t[1:])]

    freq: Counter = Counter()
    per_src: dict[str, Counter] = {}
    for _, text, _, s, _ in rows_:
        g = grams(text)
        freq.update(g)
        per_src.setdefault(s, Counter()).update(g)
    vocab = {
        t for t, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:512]
    }
    want = {}
    for s, c in per_src.items():
        n = sum(c.values())
        oov = sum(v for t, v in c.items() if t not in vocab)
        want[s] = (n, oov, round(1.0 - (n - oov) / n, 6))

    out = vocab_oov_rate(spark, str(tmp_path))
    got = {
        r["source"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in out.collect()
    }
    assert got == want
    # the singleton source must actually have OOV mass (the cut bites)
    assert want["src_c"][1] > 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final  # bounded vocab cut
    assert "BroadcastHashJoin" in final
    assert final.count("Sort [") == 0  # never a global sort


# ---------------------------------------------------------------------------
# vocab_unseen_mass (Good-Turing singleton mass)
# ---------------------------------------------------------------------------


def test_vocab_unseen_mass_hand_computed(spark, tmp_path):
    from tmdb_index_spark.queries import vocab_unseen_mass

    # src_a tokens: a a b c  -> N=4, types {a:2, b:1, c:1}: V=3, N1=2,
    # N2=1 -> unseen = 2/4 = 0.5, singleton share = 2/3.
    # src_b tokens: x x x    -> N=3, V=1, N1=0, N2=0 -> unseen 0.0.
    # src_c: punctuation-only text -> zero tokens; must still report a
    # row with the guarded 0.0 ratios, not NULL and not a missing row.
    rows_ = [
        (0, "a a b", "en", "src_a", 0),
        (1, "c", "en", "src_a", 0),
        (2, "x x x", "en", "src_b", 0),
        (3, "!!! ???", "en", "src_c", 0),
    ]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["source"]: r.asDict()
        for r in vocab_unseen_mass(spark, str(tmp_path)).collect()
    }
    a = got["src_a"]
    assert (a["n_tokens"], a["n_types"]) == (4, 3)
    assert (a["n_singletons"], a["n_doubletons"]) == (2, 1)
    assert a["unseen_mass"] == 0.5
    assert a["singleton_type_share"] == round(2 / 3, 6)
    b = got["src_b"]
    assert (b["n_tokens"], b["n_types"], b["n_singletons"]) == (3, 1, 0)
    assert b["unseen_mass"] == 0.0
    c = got["src_c"]
    assert (c["n_tokens"], c["n_types"]) == (0, 0)
    assert c["unseen_mass"] == 0.0 and c["singleton_type_share"] == 0.0


# ---------------------------------------------------------------------------
# lang_id_kappa (Cohen's kappa over the lang-ID confusion matrix)
# ---------------------------------------------------------------------------


def test_lang_id_kappa_hand_computed(spark, tmp_path):
    from tmdb_index_spark.queries import lang_id_kappa

    # Confusion: true en -> pred {en: 2, de: 1}; true fr -> pred fr.
    # N=4, diag=3 -> p_o = 0.75; marginal products (en 3*2 + fr 1*1)
    # / 16 -> p_e = 0.4375; kappa = 0.3125 / 0.5625 = 5/9.
    rows_ = [
        (0, "the and of", "en", "s", 0),
        (1, "the and of", "en", "s", 0),
        (2, "der und das", "en", "s", 0),
        (3, "le la et", "fr", "s", 0),
    ]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    [r] = lang_id_kappa(spark, str(tmp_path)).collect()
    assert r["n_docs"] == 4
    assert r["observed_agreement"] == 0.75
    assert r["expected_agreement"] == 0.4375
    assert r["kappa"] == round(5 / 9, 6)


def test_lang_id_kappa_degenerate_single_class(spark, tmp_path):
    from tmdb_index_spark.queries import lang_id_kappa

    # Every doc declared AND predicted 'en': p_e = 1 -> NULL kappa via
    # the NULLIF convention, never a divide-by-zero error.
    rows_ = [(i, "the and of", "en", "s", 0) for i in range(3)]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    [r] = lang_id_kappa(spark, str(tmp_path)).collect()
    assert r["observed_agreement"] == 1.0
    assert r["expected_agreement"] == 1.0
    assert r["kappa"] is None


# ---------------------------------------------------------------------------
# compaction_plan (small-files rewrite planning)
# ---------------------------------------------------------------------------


def test_compaction_plan_hand_computed(spark, tmp_path):
    from tmdb_index_spark.queries import compaction_plan

    # héllo = 6 UTF-8 bytes / 5 chars: the plan must count BYTES
    # (octet_length == DuckDB strlen), not characters.
    rows_ = [
        (0, "héllo", "en", "src_a", 0),
        (1, "ab", "en", "src_a", 0),
        (2, "x" * 10, "en", "src_b", 0),
    ]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["source"]: r.asDict()
        for r in compaction_plan(spark, str(tmp_path)).collect()
    }
    a = got["src_a"]
    assert a["n_docs"] == 2
    assert a["total_bytes"] == 8  # 6 + 2 bytes
    assert a["max_doc_bytes"] == 6
    assert a["target_files"] == 1  # far under one 128 MiB target
    assert a["rows_per_file"] == 2
    assert a["avg_doc_bytes"] == 4.0
    b = got["src_b"]
    assert (b["total_bytes"], b["target_files"], b["rows_per_file"]) == (10, 1, 1)


# ---------------------------------------------------------------------------
# source_ablation_effects (leave-one-source-out data valuation)
# ---------------------------------------------------------------------------


def test_source_ablation_hand_computed(spark, tmp_path):
    from tmdb_index_spark.queries import source_ablation_effects

    # Scores (stopword-density - punct-density micros): "the the" ->
    # 1e6, "zzz zzz" -> 0. src_a: two docs at 1e6 (mean 1.0); src_b:
    # two docs at 0 (mean 0.0). Corpus mean 0.5; LOO means: without a
    # -> 0.0, without b -> 1.0; deltas +0.5 / -0.5.
    rows_ = [
        (0, "the the", "en", "src_a", 0),
        (1, "the the", "en", "src_a", 0),
        (2, "zzz zzz", "en", "src_b", 0),
        (3, "zzz zzz", "en", "src_b", 0),
    ]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["source"]: r.asDict()
        for r in source_ablation_effects(spark, str(tmp_path)).collect()
    }
    a, b = got["src_a"], got["src_b"]
    assert a["source_mean"] == 1.0 and b["source_mean"] == 0.0
    assert a["corpus_mean"] == 0.5 == b["corpus_mean"]
    assert a["loo_mean"] == 0.0 and b["loo_mean"] == 1.0
    assert a["delta"] == 0.5 and b["delta"] == -0.5


def test_source_ablation_single_source_null_loo(spark, tmp_path):
    from tmdb_index_spark.queries import source_ablation_effects

    df = spark.createDataFrame(
        [(0, "the", "en", "only", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    [r] = source_ablation_effects(spark, str(tmp_path)).collect()
    assert r["loo_mean"] is None and r["delta"] is None


# ---------------------------------------------------------------------------
# source_quality_shrinkage (DerSimonian-Laird empirical Bayes)
# ---------------------------------------------------------------------------


def test_shrinkage_properties(spark):
    from tmdb_index_spark.queries import source_quality_shrinkage

    rows = source_quality_shrinkage(spark, "/root/testdata/sf0.001").collect()
    assert rows
    # grand mean from the same rows (weighted by n)
    grand = sum(r["raw_mean"] * r["n_docs"] for r in rows) / sum(
        r["n_docs"] for r in rows
    )
    for r in rows:
        assert r["shrink_weight"] is None or 0.0 <= r["shrink_weight"] <= 1.0
        # shrunk mean lies between the raw mean and the grand mean
        lo, hi = sorted((r["raw_mean"], grand))
        assert lo - 1e-4 <= r["shrunk_mean"] <= hi + 1e-4, r


def test_shrinkage_degenerate_identical_scores(spark, tmp_path):
    # every doc identical -> zero within AND between variance -> the
    # shrink weight is NULL (0/0 guarded) and the shrunk mean falls
    # back to the grand mean exactly.
    from tmdb_index_spark.queries import source_quality_shrinkage

    rows_ = [
        (i, "the the", "en", f"src_{i % 2}", 0) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = source_quality_shrinkage(spark, str(tmp_path)).collect()
    for r in got:
        assert r["shrink_weight"] is None
        assert r["shrunk_mean"] == r["raw_mean"] == 1.0


# ---------------------------------------------------------------------------
# code_switch_rate (mixed-language detection)
# ---------------------------------------------------------------------------


def test_code_switch_hand_computed(spark, tmp_path):
    from tmdb_index_spark.queries import code_switch_rate

    rows_ = [
        # >=2 en markers AND >=2 de markers -> mixed
        (0, "the and der und", "en", "src_a", 0),
        # en only -> not mixed
        (1, "the and of", "en", "src_a", 0),
        # one de marker + two en markers -> not mixed (threshold is 2)
        (2, "the and der", "en", "src_a", 0),
        # no markers at all -> not mixed
        (3, "zzz qqq", "en", "src_b", 0),
    ]
    df = spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {
        r["source"]: r.asDict()
        for r in code_switch_rate(spark, str(tmp_path)).collect()
    }
    a = got["src_a"]
    assert (a["n_docs"], a["n_mixed"]) == (3, 1)
    assert a["mixed_rate"] == round(1 / 3, 6)
    b = got["src_b"]
    assert (b["n_docs"], b["n_mixed"], b["mixed_rate"]) == (1, 0, 0.0)


# ---------------------------------------------------------------------------
# normalize_text / normalize_text_sql (one spec, two engines)
# ---------------------------------------------------------------------------


def test_normalize_text_semantics_and_engine_parity(spark):
    import duckdb

    from tmdb_index_spark.functions.text import (
        normalize_text,
        normalize_text_sql,
    )

    rows_ = [
        (1, "  “hi”…   there – ok\x01! "),
        (2, "plain text stays"),
        (3, None),
        (4, "nb sp and\ttabs\nnewlines"),
        (5, "don’t — break"),
    ]
    df = spark.createDataFrame(rows_, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", normalize_text("text").alias("n")
        ).collect()
    }
    assert got[1] == '"hi"... there - ok!'
    assert got[2] == "plain text stays"
    assert got[3] == ""  # NULL in -> '' out
    assert got[4] == "nb sp and tabs newlines"
    assert got[5] == "don't - break"

    # the SQL twin generated from the SAME spec computes identical
    # strings in DuckDB
    con = duckdb.connect()
    expr = normalize_text_sql("text")
    for doc_id, text in rows_:
        sql_val = con.sql(
            f"SELECT {expr} FROM (SELECT ? AS text)", params=[text]
        ).fetchone()[0]
        assert sql_val == got[doc_id], doc_id


def test_quality_p25_matches_python_rank(spark):
    # the per-source threshold is the value at ascending position
    # (n + 3) // 4, computed here in plain Python, never by a Spark rank
    import random

    rng = random.Random(25)
    spans = [(-5, 5), (-1_000_000, -999_990), (999_990, 1_000_000),
             (-1_000_000, 1_000_000)]
    data = []
    for g, (lo, hi) in enumerate(spans):
        for n in range(1, 9):
            for _ in range(n):
                data.append((f"s{g}n{n}", rng.randint(lo, hi)))
    data += [(None, 7), (None, -3), (None, 1)]
    df = spark.createDataFrame(
        [(i, src, q) for i, (src, q) in enumerate(data)],
        "doc_id long, source string, q long",
    )
    groups: dict = {}
    for src, q in data:
        groups.setdefault(src, []).append(q)
    want = {
        src: sorted(qs)[(len(qs) + 3) // 4 - 1] for src, qs in groups.items()
    }
    thr = df.groupBy("source").agg(quality_p25("q").alias("thr"))
    assert dict(thr.collect()) == want
    assert dict(thr.dtypes)["thr"] == "bigint"

    # the stage-1 gate: the inner join drops the NULL-source group
    kept = (
        df.join(F.broadcast(thr), "source")
        .filter(F.col("q") >= F.col("thr"))
        .select("doc_id")
    )
    assert sorted(r[0] for r in kept.collect()) == [
        i
        for i, (src, q) in enumerate(data)
        if src is not None and q >= want[src]
    ]
