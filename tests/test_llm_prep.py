"""Tests for LLM training-data prep operators (north-star extensions:
n-gram decontamination, repetition quality, redaction, sequence
packing). Edge-case model follows the reference's tiny-inline-frame
test style (/root/reference/test_tmdb_index.py:29-92)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import rows
from tmdb_index_spark.operators.llm_prep import (
    DEFAULT_REDACTIONS,
    ngram_contamination,
    pack_sequences,
    redact_patterns,
    repetition_signals,
)


def _df(spark, rows_, schema="doc_id long, text string"):
    return spark.createDataFrame(rows_, schema)


# ---------------------------------------------------------------------------
# ngram_contamination
# ---------------------------------------------------------------------------


def test_contamination_basic_hit_counts(spark):
    train = _df(
        spark,
        [
            (1, "a b c d e f g"),  # shares 5-grams "a b c d e".."c d e f g"
            (2, "x y z w v u t"),  # clean
        ],
    )
    ev = _df(spark, [(100, "a b c d e f g h")])
    got = rows(ngram_contamination(train, ev, n=5), order_by="doc_id")
    # train doc 1 has 3 distinct 5-grams, all present in eval; doc 2 clean
    assert got == [{"doc_id": 1, "ngram_hits": 3}]


def test_contamination_empty_eval_set(spark):
    train = _df(spark, [(1, "a b c d e f g")])
    ev = _df(spark, [], "doc_id long, text string")
    assert ngram_contamination(train, ev, n=5).count() == 0


def test_contamination_doc_shorter_than_n(spark):
    # both a short train doc and a short eval doc produce zero n-grams
    train = _df(spark, [(1, "a b"), (2, "a b c d e")])
    ev = _df(spark, [(100, "a b"), (101, "a b c d e")])
    got = rows(ngram_contamination(train, ev, n=5), order_by="doc_id")
    assert got == [{"doc_id": 2, "ngram_hits": 1}]


def test_contamination_counts_distinct_train_ngrams_once(spark):
    # the same 5-gram repeated in a train doc counts once (array_distinct)
    train = _df(spark, [(1, "a b c d e a b c d e")])
    ev = _df(spark, [(100, "a b c d e")])
    got = rows(ngram_contamination(train, ev, n=5), order_by="doc_id")
    assert got[0]["doc_id"] == 1
    # distinct n-grams of the train doc that hit: "a b c d e" plus the
    # wrap-around grams ("b c d e a" etc.) are NOT in eval -> exactly 1
    assert got[0]["ngram_hits"] == 1


def test_contamination_no_broadcast_fallback_same_result(spark):
    train = _df(spark, [(1, "a b c d e f"), (2, "q r s t u v")])
    ev = _df(spark, [(100, "b c d e f g")])
    a = rows(ngram_contamination(train, ev, n=5), order_by="doc_id")
    b = rows(
        ngram_contamination(train, ev, n=5, broadcast_eval=False),
        order_by="doc_id",
    )
    assert a == b


# ---------------------------------------------------------------------------
# repetition_signals
# ---------------------------------------------------------------------------


def test_repetition_short_and_null_docs(spark):
    got = {
        r["doc_id"]: r
        for r in rows(
            repetition_signals(
                _df(
                    spark,
                    [(1, "word"), (2, ""), (3, None), (4, "a a")],
                )
            ),
            order_by="doc_id",
        )
    }
    # <2 tokens -> no bigrams -> top_bigram_frac 0.0, no NULL leakage
    for d in (1, 2, 3):
        assert got[d]["top_bigram_frac"] == 0.0
        assert got[d]["dup_token_ratio"] == 0.0
    # "a a": 2 tokens 1 distinct -> dup 0.5; one bigram "a a" -> frac 1.0
    assert got[4] == {
        "doc_id": 4,
        "dup_token_ratio": 0.5,
        "top_bigram_frac": 1.0,
    }


def test_repetition_known_values(spark):
    # "x y x y x": tokens 5, distinct 2 -> dup 0.6
    # bigrams: [x y, y x, x y, y x] -> top count 2 of 4 -> 0.5
    got = rows(repetition_signals(_df(spark, [(1, "x y x y x")])))
    assert got == [
        {"doc_id": 1, "dup_token_ratio": 0.6, "top_bigram_frac": 0.5}
    ]


def test_repetition_explode_impl_matches_expr(spark):
    # includes a "long" repetitive doc to exercise the scale path on a
    # non-trivial bigram distribution, plus the degenerate edges
    long_doc = " ".join(["spam", "ham", "spam"] * 200)
    df = _df(
        spark,
        [(1, "x y x y x"), (2, "solo"), (3, None), (4, long_doc), (5, "")],
    )
    a = rows(repetition_signals(df, impl="expr"), order_by="doc_id")
    b = rows(repetition_signals(df, impl="explode"), order_by="doc_id")
    assert a == b


def test_repetition_bad_impl_raises(spark):
    with pytest.raises(ValueError, match="impl"):
        repetition_signals(_df(spark, [(1, "a")]), impl="nope")


# ---------------------------------------------------------------------------
# redact_patterns
# ---------------------------------------------------------------------------


def test_redact_email_and_numbers(spark):
    df = _df(spark, [(1, "mail bob99@corp.io or call 12345 now 77")])
    got = rows(redact_patterns(df), order_by="doc_id")[0]
    assert got["redacted"] == "mail <EMAIL> or call <NUM> now 77"
    assert got["n_redacted_0"] == 1  # one email
    assert got["n_redacted_1"] == 1  # 12345 masked; 77 too short


def test_redact_digits_inside_email_not_double_counted(spark):
    # 123456 sits inside the email; after the email mask it is gone, so
    # the number rule must count 0 (counts index post-mask text)
    df = _df(spark, [(1, "u123456@example.com")])
    got = rows(redact_patterns(df), order_by="doc_id")[0]
    assert got["n_redacted_0"] == 1
    assert got["n_redacted_1"] == 0
    assert got["redacted"] == "<EMAIL>"


def test_redact_overlapping_custom_rules_apply_in_order(spark):
    # rule 0 rewrites 'abcd' first; rule 1 then sees the rewritten text
    rules = ((r"abcd", "<X>"), (r"<X>e", "<Y>"))
    df = _df(spark, [(1, "abcde abcd")])
    got = rows(redact_patterns(df, rules=rules), order_by="doc_id")[0]
    assert got["redacted"] == "<Y> <X>"
    assert got["n_redacted_0"] == 2
    assert got["n_redacted_1"] == 1


def test_redact_null_text_yields_empty_and_zero_counts(spark):
    got = rows(redact_patterns(_df(spark, [(1, None)])), order_by="doc_id")[0]
    assert got["redacted"] == ""
    assert got["n_redacted_0"] == 0 and got["n_redacted_1"] == 0


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def _packed(spark, docs, **kw):
    df = spark.createDataFrame(
        docs, "doc_id long, source string, text string"
    )
    return {
        r["doc_id"]: r
        for r in rows(pack_sequences(df, **kw), order_by="doc_id")
    }


def test_pack_basic_bin_assignment(spark):
    # one group, one shard: cumulative starts 0,2,4 with capacity 4
    docs = [(0, "s", "a b"), (8, "s", "c d"), (16, "s", "e f")]
    got = _packed(spark, docs, capacity=4, shards=8)
    assert [got[i]["bin"] for i in (0, 8, 16)] == [0, 0, 1]
    assert all(got[i]["n_tokens"] == 2 for i in (0, 8, 16))
    assert all(got[i]["shard"] == 0 for i in (0, 8, 16))


def test_pack_group_col_none_single_stream(spark):
    docs = [(0, "a", "x y"), (8, "b", "z w")]
    got = _packed(spark, docs, group_col=None, capacity=2, shards=1)
    # without grouping, both docs share one stream: bins 0 then 1
    assert got[0]["bin"] == 0 and got[8]["bin"] == 1


def test_pack_capacity_one_gives_doc_per_bin_start(spark):
    docs = [(0, "s", "a b c"), (8, "s", "d")]
    got = _packed(spark, docs, capacity=1, shards=1)
    # starts are 0 and 3 -> bins 0 and 3
    assert got[0]["bin"] == 0 and got[8]["bin"] == 3


def test_pack_sharding_partitions_by_id_mod(spark):
    docs = [(i, "s", "t") for i in range(6)]
    got = _packed(spark, docs, capacity=10, shards=3)
    assert [got[i]["shard"] for i in range(6)] == [0, 1, 2, 0, 1, 2]
    # each shard's first doc starts a fresh cumsum -> bin 0 everywhere
    assert all(got[i]["bin"] == 0 for i in range(6))


def test_pack_null_text_counts_zero_tokens(spark):
    docs = [(0, "s", None), (8, "s", "a b")]
    got = _packed(spark, docs, capacity=2, shards=1)
    assert got[0]["n_tokens"] == 0
    # NULL doc consumes nothing: next doc still starts at 0 -> bin 0
    assert got[8]["bin"] == 0


def test_pack_cost_col_overrides_text_counting(spark):
    from tmdb_index_spark.operators.llm_prep import pack_sequences

    df = spark.createDataFrame(
        # caller-supplied costs disagree with the 2-word texts on
        # purpose; a NULL cost packs as 0 (the NULL-text convention)
        [(0, "s", "a b", 3), (8, "s", "c d", None), (16, "s", "e f", 2)],
        "doc_id long, source string, text string, bpe long",
    )
    got = {
        r["doc_id"]: r
        for r in pack_sequences(
            df, capacity=4, shards=1, cost_col="bpe"
        ).collect()
    }
    assert [got[i]["n_tokens"] for i in (0, 8, 16)] == [3, 0, 2]
    # starts 0, 3, 3 at capacity 4 -> bins 0, 0, 0; next start would be 5
    assert [got[i]["bin"] for i in (0, 8, 16)] == [0, 0, 0]


# ---------------------------------------------------------------------------
# unigram_logprob
# ---------------------------------------------------------------------------


def test_unigram_logprob_known_values(spark):
    from tmdb_index_spark.operators.llm_prep import unigram_logprob

    # tf: a=2, b=2, c=1; N=5, V=3 -> p(a)=p(b)=3/8, p(c)=2/8
    df = _df(spark, [(1, "a a b"), (2, "b c"), (3, None)])
    got = {r["doc_id"]: r for r in rows(unigram_logprob(df), order_by="doc_id")}
    assert got[1]["n_tokens"] == 3
    assert got[1]["mean_neg_logp"] == 0.426   # -log10(3/8)
    assert got[2]["n_tokens"] == 2
    assert got[2]["mean_neg_logp"] == 0.514   # mean(-log10(3/8), -log10(2/8))
    assert 3 not in got  # NULL text has no tokens to score


def test_unigram_logprob_rare_scores_higher(spark):
    from tmdb_index_spark.operators.llm_prep import unigram_logprob

    df = _df(
        spark,
        [(1, "common common common common"), (2, "common rare")],
    )
    got = {r["doc_id"]: r for r in rows(unigram_logprob(df), order_by="doc_id")}
    assert got[2]["mean_neg_logp"] > got[1]["mean_neg_logp"]


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------


def test_chunk_documents_overlap_and_tail(spark):
    from tmdb_index_spark.operators.llm_prep import chunk_documents

    text = " ".join(f"t{i}" for i in range(1, 11))  # 10 tokens
    out = rows(
        chunk_documents(_df(spark, [(1, text)]), chunk_tokens=4, stride=3),
        order_by="chunk_id",
    )
    # starts 1,4,7,10 -> sizes 4,4,4,1; no suffix lost
    assert [r["chunk_id"] for r in out] == [0, 1, 2, 3]
    assert [r["n_chunk_tokens"] for r in out] == [4, 4, 4, 1]
    assert out[0]["chunk_text"] == "t1 t2 t3 t4"
    assert out[1]["chunk_text"] == "t4 t5 t6 t7"  # 1-token overlap
    assert out[3]["chunk_text"] == "t10"


def test_chunk_documents_short_doc_single_chunk(spark):
    from tmdb_index_spark.operators.llm_prep import chunk_documents

    out = rows(
        chunk_documents(_df(spark, [(1, "only two")]), chunk_tokens=64, stride=48)
    )
    assert len(out) == 1
    assert out[0]["chunk_id"] == 0 and out[0]["n_chunk_tokens"] == 2
    assert out[0]["chunk_text"] == "only two"


def test_chunk_documents_bad_params_raise(spark):
    from tmdb_index_spark.operators.llm_prep import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(_df(spark, [(1, "a")]), chunk_tokens=0, stride=1)
    with pytest.raises(ValueError):
        chunk_documents(_df(spark, [(1, "a")]), chunk_tokens=4, stride=0)


def test_pack_default_shards_tracks_session_parallelism(spark):
    # shards=None must scale the window partition count with the
    # cluster (defaultParallelism), not pin a fixed handful of giant
    # serial sorts at 100 TB; shard = id % shards, so dense ids cover
    # every shard.
    par = spark.sparkContext.defaultParallelism
    docs = [(i, "s", "w") for i in range(4 * par)]
    got = _packed(spark, docs, capacity=4)
    assert {r["shard"] for r in got.values()} == set(range(par))


def test_chunk_documents_blank_docs_emit_no_chunks(spark):
    # split('') is [''] — without the empty-token filter a blank/NULL/
    # whitespace-only doc would emit one phantom chunk with
    # n_chunk_tokens=1 and chunk_text=''.
    from tmdb_index_spark.operators.llm_prep import chunk_documents

    out = rows(
        chunk_documents(
            _df(spark, [(1, ""), (2, None), (3, "   "), (4, "one tok")]),
            chunk_tokens=4,
            stride=3,
        ),
        order_by="doc_id",
    )
    assert [(r["doc_id"], r["n_chunk_tokens"], r["chunk_text"]) for r in out] == [
        (4, 2, "one tok")
    ]


def test_dup_span_fraction_cross_doc_only(spark):
    from tmdb_index_spark.operators.llm_prep import dup_span_fraction

    docs = spark.createDataFrame(
        [
            # docs 1 & 2 share the trigram "a b c"; doc 1's "x y z" is
            # unique; doc 3 shares nothing; doc 4 is too short for any
            # trigram.
            (1, "a b c x y z"),
            (2, "q q a b c"),
            (3, "p r s t"),
            (4, "u v"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_spans"], r["dup_frac"])
        for r in dup_span_fraction(docs, n=3).collect()
    }
    # doc 1: spans {a b c, b c x, c x y, x y z} -> 4, one duplicated
    assert got[1] == (4, 1, 0.25)
    # doc 2: spans {q q a, q a b, a b c} -> 3, one duplicated
    assert got[2] == (3, 1, round(1 / 3, 4))
    # doc 3: two spans, none shared
    assert got[3] == (2, 0, 0.0)
    # doc 4: too short -> zero spans, NULL fraction (caller decides)
    assert got[4] == (0, 0, None)


def test_dup_span_fraction_within_doc_repeat_not_dup(spark):
    from tmdb_index_spark.operators.llm_prep import dup_span_fraction

    # the span repeats INSIDE one doc only: per-doc distinct spans mean
    # it is not counted as corpus-duplicated
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "z z z z")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["dup_spans"] for r in dup_span_fraction(docs, n=3).collect()}
    assert got[1] == 0
    assert got[2] == 0


# ------------------------------------------------- segment dedup rebuild


def test_segment_dedup_first_occurrence_kept(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicate_segments

    # 2-token segments; doc 1 owns "a b", docs 2/3 repeat it.
    rows = [
        (1, "a b c d"),
        (2, "a b x y"),
        (3, "a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_segments"], r["kept_segments"], r["text_dedup"])
        for r in remove_duplicate_segments(df, seg_tokens=2).collect()
    }
    assert out[1] == (2, 2, "a b c d")
    assert out[2] == (2, 1, "x y")
    assert out[3] == (1, 0, "")  # fully duplicated doc kept, emptied


def test_segment_dedup_within_doc_repeats_collapse(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicate_segments

    df = spark.createDataFrame(
        [(1, "a b a b a b")], "doc_id long, text string"
    )
    out = remove_duplicate_segments(df, seg_tokens=2).collect()[0]
    assert (out["n_segments"], out["kept_segments"]) == (3, 1)
    assert out["text_dedup"] == "a b"


def test_segment_dedup_short_tail_segment_is_distinct(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicate_segments

    # "c" (tail, 1 token) differs from segment "c d" elsewhere
    rows = [(1, "a b c"), (2, "c d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["kept_segments"]
        for r in remove_duplicate_segments(df, seg_tokens=2).collect()
    }
    assert out == {1: 2, 2: 1}


def test_segment_dedup_blank_docs_dropped(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicate_segments

    rows = [(1, "a b"), (2, "   "), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_duplicate_segments(df, seg_tokens=2).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_segment_dedup_rejects_bad_seg_tokens(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicate_segments

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        remove_duplicate_segments(df, seg_tokens=0)


def test_segment_dedup_reassembly_preserves_order(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicate_segments

    # doc 2: middle segment "a b" is the only duplicate; order of the
    # survivors must be original segment order, not hash order.
    rows = [(1, "a b"), (2, "z z a b q q")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text_dedup"]
        for r in remove_duplicate_segments(df, seg_tokens=2).collect()
    }
    assert out[2] == "z z q q"


# ---------------------------------------------------------------- bpe


def test_bpe_pairs_counts_occurrences(spark):
    from tmdb_index_spark.operators.llm_prep import bpe_adjacent_pairs

    # "abab" -> ab, ba, ab ; "ab" -> ab  => ab:3, ba:1
    df = spark.createDataFrame(
        [(1, "abab ab")], "doc_id long, text string"
    )
    out = {
        r["pair"]: r["n_pairs"]
        for r in bpe_adjacent_pairs(df, top_k=10).collect()
    }
    assert out == {"ab": 3, "ba": 1}


def test_bpe_pairs_single_char_words_and_blank_docs(spark):
    from tmdb_index_spark.operators.llm_prep import bpe_adjacent_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "   "), (3, None), (4, "xy")],
        "doc_id long, text string",
    )
    out = {
        r["pair"]: r["n_pairs"]
        for r in bpe_adjacent_pairs(df, top_k=10).collect()
    }
    assert out == {"xy": 1}


def test_bpe_pairs_topk_order_deterministic(spark):
    from tmdb_index_spark.operators.llm_prep import bpe_adjacent_pairs

    # zz and aa tie on count: lexicographic ascending breaks the tie
    df = spark.createDataFrame(
        [(1, "aa zz bb bb")], "doc_id long, text string"
    )
    rows = bpe_adjacent_pairs(df, top_k=2).collect()
    assert [(r["pair"], r["n_pairs"]) for r in rows] == [
        ("bb", 2), ("aa", 1)
    ]


def test_bpe_pairs_rejects_bad_topk(spark):
    from tmdb_index_spark.operators.llm_prep import bpe_adjacent_pairs

    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bpe_adjacent_pairs(df, top_k=0)


# ---------------------------------------------------------------- pmi


def test_pmi_hand_computed(spark):
    import math

    from tmdb_index_spark.operators.llm_prep import token_pmi

    # corpus: "a b" x3 and "a c" x1 -> bigrams: (a,b):3, (a,c):1
    # tokens: a:4, b:3, c:1 ; n_tok=8, n_pair=4
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c")],
        "doc_id long, text string",
    )
    out = {
        (r["tok_a"], r["tok_b"]): (r["n_pair"], r["pmi"])
        for r in token_pmi(df, min_count=1, top_k=10).collect()
    }
    exp_ab = math.log2((3 / 4) / ((4 / 8) * (3 / 8)))
    exp_ac = math.log2((1 / 4) / ((4 / 8) * (1 / 8)))
    assert out[("a", "b")] == (3, round(exp_ab, 4))
    assert out[("a", "c")] == (1, round(exp_ac, 4))


def test_pmi_min_count_suppresses_rare_pairs(spark):
    from tmdb_index_spark.operators.llm_prep import token_pmi

    df = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "q z")], "doc_id long, text string"
    )
    pairs = {
        (r["tok_a"], r["tok_b"])
        for r in token_pmi(df, min_count=3, top_k=10).collect()
    }
    assert ("q", "z") not in pairs
    assert ("x", "y") in pairs


def test_pmi_validation_and_short_docs(spark):
    import pytest
    from tmdb_index_spark.operators.llm_prep import token_pmi

    df = spark.createDataFrame(
        [(1, "solo"), (2, None), (3, "  ")], "doc_id long, text string"
    )
    assert token_pmi(df, min_count=1).count() == 0  # no bigrams at all
    with pytest.raises(ValueError):
        token_pmi(df, min_count=0)
    with pytest.raises(ValueError):
        token_pmi(df, top_k=0)


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------


def test_bigram_logprob_known_values(spark):
    from tmdb_index_spark.operators.llm_prep import bigram_logprob

    # corpus bigrams: (a,b) x1, (a,c) x1  →  P(b|a) = P(c|a) = 1/2
    df = _df(spark, [(1, "a b"), (2, "a c")])
    got = rows(bigram_logprob(df), order_by="doc_id")
    assert got == [
        {"doc_id": 1, "n_bigrams": 1, "mean_neg_log2p": 1.0},
        {"doc_id": 2, "n_bigrams": 1, "mean_neg_log2p": 1.0},
    ]


def test_bigram_logprob_deterministic_transitions_score_zero(spark):
    from tmdb_index_spark.operators.llm_prep import bigram_logprob

    # every first token has exactly one successor → all P = 1 → 0 bits
    df = _df(spark, [(1, "a b c"), (2, "a b")])
    got = rows(bigram_logprob(df), order_by="doc_id")
    assert [r["mean_neg_log2p"] for r in got] == [0.0, 0.0]


def test_bigram_logprob_short_and_blank_docs_dropped(spark):
    from tmdb_index_spark.operators.llm_prep import bigram_logprob

    df = _df(spark, [(1, "solo"), (2, ""), (3, None), (4, "a b")])
    got = rows(bigram_logprob(df), order_by="doc_id")
    assert [r["doc_id"] for r in got] == [4]


def test_bigram_templates_below_free_text(spark):
    from tmdb_index_spark.operators.llm_prep import bigram_logprob

    template = [(i, "name : value end") for i in range(1, 6)]
    free = [(10, "name end value :"), (11, ": value name end")]
    df = _df(spark, template + free)
    got = {r["doc_id"]: r["mean_neg_log2p"] for r in rows(bigram_logprob(df))}
    assert max(got[i] for i in range(1, 6)) < min(got[10], got[11])


def test_bpe_train_merges_classic_example(spark):
    # the Sennrich classroom corpus: 'low'×4, 'lower', 'lowest',
    # 'newer', 'newest', 'new' — merges must follow the greedy
    # frequency-weighted argmax with (count desc, pair asc) ties
    from tmdb_index_spark.operators.llm_prep import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    out = [tuple(r) for r in bpe_train_merges(docs, k=4).collect()]
    assert out == [
        (1, "l", "o", "lo", 6),
        (2, "lo", "w", "low", 6),
        (3, "e", "w", "ew", 3),
        (4, "n", "ew", "new", 3),
    ]


def test_bpe_train_merges_greedy_nonoverlap_and_early_stop(spark):
    from tmdb_index_spark.operators.llm_prep import bpe_train_merges

    # 'aaaa' must merge as (aa)(aa) — greedy left-to-right
    # non-overlapping, never three overlapping 'aa' merges
    docs = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    out = [tuple(r) for r in bpe_train_merges(docs, k=10).collect()]
    assert out[0] == (1, "a", "a", "aa", 3)  # count BEFORE merging
    assert out[1] == (2, "aa", "aa", "aaaa", 1)
    # after 'aaaa' is one symbol there are no pairs left: early stop
    assert len(out) == 2

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        bpe_train_merges(docs, k=0)


def test_bpe_train_merges_right_symbol_prefix_boundary(spark):
    # round-10 advisor regression: after merging (t, h), a word holding
    # [x, th] must NOT let a later (x, t) merge fuse across the symbol
    # boundary (prefix-only delimiting matched '\x1fx\x1ft' inside
    # '\x1fx\x1fth' and corrupted the state, dropping the (x, th)
    # merge). Corpus: 'xth'×1, 'xt'×5, 'th'×10.
    from tmdb_index_spark.operators.llm_prep import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "xth " + "xt " * 5 + "th " * 10)], "doc_id long, text string"
    )
    out = [tuple(r) for r in bpe_train_merges(docs, k=10).collect()]
    assert out == [
        (1, "t", "h", "th", 11),
        (2, "x", "t", "xt", 5),
        (3, "x", "th", "xth", 1),
    ]


def test_bpe_train_merges_matches_pure_python_reference(spark):
    # belt-and-braces: the Spark trainer must equal a direct list-based
    # BPE on a corpus mixing repeats, prefixes, and shared stems
    from tmdb_index_spark.operators.llm_prep import bpe_train_merges

    text = "abab abab aba bab ab ba aab abb aabb baba"

    def ref_bpe(words_text, k):
        from collections import Counter

        wf = Counter(words_text.split())
        seqs = {w: list(w) for w in wf}
        merges = []
        for step in range(1, k + 1):
            pc = Counter()
            for w, f in wf.items():
                s = seqs[w]
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += f
            if not pc:
                break
            (left, right), c = min(
                pc.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((step, left, right, left + right, c))
            for w in seqs:
                s, out, i = seqs[w], [], 0
                while i < len(s):
                    if (
                        i + 1 < len(s)
                        and s[i] == left
                        and s[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                seqs[w] = out
        return merges

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = [tuple(r) for r in bpe_train_merges(docs, k=6).collect()]
    assert got == ref_bpe(text, 6)


def test_bpe_train_merges_repin_keeps_merges(spark, monkeypatch):
    # re-pinning the vocab frame every BPE_REPIN_ROUNDS rounds cuts its
    # lineage only; with the period at 2, k=5 pins after rounds 2 and 4
    # and must learn the same merges as the unpatched run
    from tmdb_index_spark.operators import llm_prep
    from tmdb_index_spark.operators import materialize as M

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    want = [tuple(r) for r in llm_prep.bpe_train_merges(docs, k=5).collect()]
    M.release_pins()
    monkeypatch.setattr(llm_prep, "BPE_REPIN_ROUNDS", 2)
    got = [tuple(r) for r in llm_prep.bpe_train_merges(docs, k=5).collect()]
    assert len(M._PINNED_FRAMES) == 3  # word counts + rounds 2 and 4
    M.release_pins()
    assert len(want) == 5
    assert got == want


def test_bpe_encode_reproduces_trainer_state_and_word_boundaries(spark):
    from tmdb_index_spark.operators.llm_prep import (
        bpe_encode,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "newer newest new low")],
        "doc_id long, text string",
    )
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train_merges(docs, k=4).collect()
    ]
    out = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    # after merges lo, low, ew, new: 'low'→[low], 'lower'→[low,e,r],
    # 'lowest'→[low,e,s,t], 'newer'→[new,e,r], 'newest'→[new,e,s,t]
    assert out[1] == ["low"] * 3 + ["low", "e", "r"] + ["low", "e", "s", "t"]
    assert out[2] == ["new", "e", "r"] + ["new", "e", "s", "t"] + [
        "new", "low",
    ]


def test_bpe_encode_never_merges_across_words(spark):
    from tmdb_index_spark.operators.llm_prep import bpe_encode

    docs = spark.createDataFrame(
        [(1, "a b ab"), (2, "ba ab a")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(docs, [("a", "b")]).collect()
    }
    # the trailing 'a' of one word never fuses with the next word's 'b'
    assert out[1] == ["a", "b", "ab"]
    assert out[2] == ["b", "a", "ab", "a"]


def test_bpe_encode_validation_and_prefix_boundary(spark):
    import pytest

    from tmdb_index_spark.operators.llm_prep import bpe_encode

    docs = spark.createDataFrame([(1, "xth")], "doc_id long, text string")
    with pytest.raises(ValueError, match="merge pair"):
        bpe_encode(docs, [("a", "")])
    with pytest.raises(ValueError, match="merge pair"):
        bpe_encode(docs, [("a", "b c")])
    # symbol-exact patterns: applying (t,h) then (x,t) to 'xth' gives
    # [x, th] — the (x,t) merge must NOT fire inside [x, th]
    out = bpe_encode(docs, [("t", "h"), ("x", "t")]).collect()
    assert list(out[0]["bpe_tokens"]) == ["x", "th"]


def _span_docs(spark):
    rows_ = [
        (1, "a b c d e f"),            # exact dup of doc 2
        (2, "a b c d e f"),            # -> one maximal span [0, 6)
        (3, "q w a b c z1 z2"),        # shares 'a b c' at pos 2
        (4, "m n o p m n o p"),        # WITHIN-doc repeat -> [0, 8)
        (5, "a b c w1 w2 w3 w4 a b c"),  # two spans with a gap
        (6, "x"),                      # < k tokens: no grams
        (7, "u1 u2 u3 u4 u5"),         # no duplicated grams
    ]
    return spark.createDataFrame(rows_, "doc_id long, text string")


def test_duplicated_span_ranges_merges_maximal_intervals(spark):
    from tmdb_index_spark.operators.llm_prep import duplicated_span_ranges

    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_span_ranges(_span_docs(spark), k=3).collect()
    }
    assert spans == {
        (1, 0, 6, 6),   # every position duplicated by doc 2 -> merged
        (2, 0, 6, 6),
        (3, 2, 5, 3),   # the shared 'a b c' window only
        (4, 0, 8, 8),   # within-doc repeat; adjacent windows merge
        (5, 0, 3, 3),   # two islands separated by unique tokens
        (5, 7, 10, 3),
    }


def test_duplicated_span_ranges_validation(spark):
    from tmdb_index_spark.operators.llm_prep import duplicated_span_ranges

    docs = _span_docs(spark)
    with pytest.raises(ValueError, match="k must"):
        duplicated_span_ranges(docs, k=0)
    with pytest.raises(ValueError, match="min_count"):
        duplicated_span_ranges(docs, min_count=1)
    # min_count above every multiplicity ('a b c' occurs 5 times
    # corpus-wide, everything else at most twice) -> no spans at all
    assert duplicated_span_ranges(docs, k=3, min_count=6).count() == 0


def test_remove_duplicated_spans_first_occurrence_survives(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicated_spans

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_cut_tokens"], r["text_clean"])
        for r in remove_duplicated_spans(_span_docs(spark), k=3).collect()
    }
    # doc 1 is the corpus-wide first occurrence of every duplicated
    # window it contains -> untouched; its byte-dup doc 2 is FULLY cut
    assert got[1] == (6, 0, "a b c d e f")
    assert got[2] == (6, 6, "")           # kept with empty text
    assert got[3] == (7, 3, "q w z1 z2")  # shared 'a b c' window cut
    # within-doc repeat: the second 'm n o p' run is cut, first kept
    assert got[4] == (8, 4, "m n o p")
    assert got[5] == (10, 6, "w1 w2 w3 w4")
    assert got[6] == (1, 0, "x")          # < k tokens: no grams, kept
    assert got[7] == (5, 0, "u1 u2 u3 u4 u5")
    # exactly one copy of every duplicated string survives
    texts = [t for _, _, t in got.values()]
    assert texts.count("a b c d e f") == 1 and texts.count("m n o p") == 1


def test_remove_duplicated_spans_validation(spark):
    from tmdb_index_spark.operators.llm_prep import remove_duplicated_spans

    docs = _span_docs(spark)
    with pytest.raises(ValueError, match="k must"):
        remove_duplicated_spans(docs, k=0)
    with pytest.raises(ValueError, match="min_count"):
        remove_duplicated_spans(docs, min_count=1)


def test_remove_duplicated_spans_rejects_bad_doc_ids(spark):
    # a negative doc_id breaks the smallest-(doc,pos) packed-key
    # ordering; a non-numeric id yields NULL keys — both must fail
    # LOUDLY (same consumed assert_true as the 2^20 token bound),
    # never silently mis-cut
    from tmdb_index_spark.operators.llm_prep import remove_duplicated_spans

    neg = spark.createDataFrame(
        [(-1, "a b c a b c"), (2, "a b c d")], "doc_id long, text string"
    )
    # Exception, not SparkRuntimeException: when the guard trips in TWO
    # concurrently-materializing AQE stages, Spark 4.1 wraps both in
    # STAGE_MATERIALIZATION_MULTIPLE_FAILURES (a Py4JJavaError) — a
    # scheduling race, so pinning the wrapper class is flaky. The
    # contract is the LOUD curated message, which the match pins either
    # way (same spelling as the non-numeric assertion below).
    with pytest.raises(Exception, match="non-negative"):
        remove_duplicated_spans(neg, k=3).collect()
    # non-numeric id: either the guard's curated message or ANSI
    # cast's own error — both are loud failures, never silent NULL keys
    nonnum = spark.createDataFrame(
        [("docA", "a b c a b c")], "doc_id string, text string"
    )
    with pytest.raises(Exception, match="non-negative|cannot be cast"):
        remove_duplicated_spans(nonnum, k=3).collect()


def test_char_mode_catches_intra_token_duplication_token_mode_misses(spark):
    # the duplicated substring "foo.bar(baz_qux)" (16 chars) is
    # embedded INSIDE different whitespace tokens in the two docs —
    # token n-grams at any k see different tokens and miss it; char
    # windows catch it at the right offset in each doc
    from tmdb_index_spark.operators.llm_prep import duplicated_span_ranges

    docs = spark.createDataFrame(
        [
            (1, "xxfoo.bar(baz_qux)yy alpha words here"),
            (2, "prefix aafoo.bar(baz_qux)bb other text"),
        ],
        "doc_id long, text string",
    )
    token_spans = duplicated_span_ranges(docs, k=2, unit="token").collect()
    assert token_spans == []
    char_spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in duplicated_span_ranges(docs, k=16, unit="char").collect()
    }
    # doc 1: "foo.bar(baz_qux)" starts at char 2; doc 2: at char 9
    assert char_spans == {1: (2, 18), 2: (9, 25)}


def test_duplicated_span_ranges_rejects_bad_unit(spark):
    from tmdb_index_spark.operators.llm_prep import duplicated_span_ranges

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unit"):
        duplicated_span_ranges(docs, unit="byte")


# ---------------------------------------------------------------------------
# ExactSubstr window-granularity contract (DELTAS.md #10, round 13)
# ---------------------------------------------------------------------------


def _contract_span_docs(spark, unit, k, dup_units, ctx_a, ctx_b):
    """Two docs sharing exactly the ``dup_units`` region, embedded in
    globally-unique context units."""
    if unit == "token":
        t1 = " ".join(ctx_a[: len(ctx_a) // 2] + dup_units + ctx_a[len(ctx_a) // 2:])
        t2 = " ".join(ctx_b[: len(ctx_b) // 2] + dup_units + ctx_b[len(ctx_b) // 2:])
    else:
        t1 = "".join(ctx_a[: len(ctx_a) // 2] + dup_units + ctx_a[len(ctx_a) // 2:])
        t2 = "".join(ctx_b[: len(ctx_b) // 2] + dup_units + ctx_b[len(ctx_b) // 2:])
    return spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    )


@pytest.mark.parametrize("unit,k", [("token", 4), ("char", 4)])
def test_exact_substr_minimum_detectable_span(spark, unit, k):
    """DELTAS #10(a): a duplicated region of exactly k units is the
    MINIMUM detectable span — k units is found at its exact position,
    k-1 units in otherwise-unique context emits no rows at all."""
    from tmdb_index_spark.operators.llm_prep import duplicated_span_ranges

    if unit == "token":
        dup = [f"dup{i}" for i in range(k)]
        ctx_a = [f"ua{i}" for i in range(4)]
        ctx_b = [f"ub{i}" for i in range(4)]
    else:
        dup = list("WXYZ")
        ctx_a = list("abcd")
        ctx_b = list("ghij")
    df = _contract_span_docs(spark, unit, k, dup, ctx_a, ctx_b)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_span_ranges(
            df, k=k, unit=unit
        ).collect()
    }
    # region sits after the 2-unit context prefix in both docs
    assert got == {(1, 2, 2 + k, k), (2, 2, 2 + k, k)}

    short = _contract_span_docs(spark, unit, k, dup[: k - 1], ctx_a, ctx_b)
    assert (
        duplicated_span_ranges(short, k=k, unit=unit).count() == 0
    ), "a k-1-unit duplicate must be invisible at window size k"


@pytest.mark.parametrize("unit,k", [("token", 3), ("char", 3)])
def test_exact_substr_minimum_detectable_span_boundaries(spark, unit, k):
    """DELTAS #10(b): an isolated m>=k region is recovered exactly;
    ADJACENT duplicated regions merge into one span while a single
    unique unit between them splits two; periodic self-repeats merge
    into one span ending at (last duplicated window start) + k."""
    from tmdb_index_spark.operators.llm_prep import duplicated_span_ranges

    mk = (lambda us: " ".join(us)) if unit == "token" else "".join
    U = (lambda p, n: [f"{p}{i}" for i in range(n)]) if unit == "token" \
        else (lambda p, n: [chr(ord(p) + i) for i in range(n)])

    # exact recovery: m = k + 2 duplicated units after 2 unique ones
    dup = U("d", k + 2) if unit == "token" else list("VWXYZ")
    df = spark.createDataFrame(
        [
            (1, mk(U("a", 2) + dup + U("e", 2) if unit == "token"
                   else list("ab") + dup + list("ef"))),
            (2, mk(U("g", 2) + dup + U("j", 2) if unit == "token"
                   else list("gh") + dup + list("jk"))),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in duplicated_span_ranges(df, k=k, unit=unit).collect()
    }
    assert spans == {1: (2, 2 + k + 2), 2: (2, 2 + k + 2)}

    # adjacency merge vs 1-unit split: doc 1 holds region A then
    # region B; A duplicates into doc 2, B into doc 3
    A = U("p", k) if unit == "token" else list("LMN")
    B = U("q", k) if unit == "token" else list("RST")
    gap = [U("z", 1)[0]] if unit == "token" else ["z"]
    adjacent = spark.createDataFrame(
        [
            (1, mk(A + B)),
            (2, mk(U("m", 2) + A + U("n", 2) if unit == "token"
                   else list("01") + A + list("23"))),
            (3, mk(U("s", 2) + B + U("t", 2) if unit == "token"
                   else list("45") + B + list("67"))),
        ],
        "doc_id long, text string",
    )
    doc1 = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicated_span_ranges(adjacent, k=k, unit=unit)
        .filter("doc_id = 1")
        .collect()
    )
    assert doc1 == [(0, 2 * k)], "adjacent regions must merge"

    split = spark.createDataFrame(
        [
            (1, mk(A + gap + B)),
            (2, mk(U("m", 2) + A + U("n", 2) if unit == "token"
                   else list("01") + A + list("23"))),
            (3, mk(U("s", 2) + B + U("t", 2) if unit == "token"
                   else list("45") + B + list("67"))),
        ],
        "doc_id long, text string",
    )
    doc1s = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicated_span_ranges(split, k=k, unit=unit)
        .filter("doc_id = 1")
        .collect()
    )
    assert doc1s == [(0, k), (k + 1, 2 * k + 1)], (
        "one unique unit between regions must split the spans"
    )

    # periodic self-repeat (min_count met WITHIN one doc): every
    # window duplicated -> one span covering the whole text, ending at
    # last window start + k
    per = ["p", "q"] * 4  # 8 units, period 2
    solo = spark.createDataFrame(
        [(1, mk(per))], "doc_id long, text string"
    )
    rows = duplicated_span_ranges(solo, k=k, unit=unit).collect()
    assert len(rows) == 1
    r = rows[0]
    n_units = len(per)
    assert (r["span_start"], r["span_end"]) == (0, (n_units - k) + k)
