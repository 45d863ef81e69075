"""End-to-end corpus-prep composite: stage semantics + pin behavior.

Each stage of ``prepare_corpus`` is an already-certified operator; what
these tests pin is the COMPOSITION — that each engineered document
drops at exactly the stage that should catch it, that the yield-stats
frame chains consistently, and that the budget stage's hash-rate rule
is the portable md5 formula (recomputed independently here).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tmdb_index_spark.functions.text import LANG_MARKERS
from tmdb_index_spark.operators.corpus_pipeline import (
    STAGE_NAMES,
    corpus_pipeline_stats,
    prepare_corpus,
)


def _words(prefix: str, n: int) -> str:
    # alpha-only tokens: no digits (the BPE-ish regex would split
    # "w1" into two tokens), no punctuation (chars must stay in a-z —
    # chr(97+i) past i=25 walks into {|}~ and breaks token counts AND
    # quality scores), none of the en stopword markers — so every doc
    # scores quality 0 and thresholds are flat
    return " ".join(
        f"{prefix}{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}{chr(97 + i % 7)}"
        for i in range(n)
    )


def _docs(spark):
    a = _words("a", 30)
    rows = [
        # (doc_id, text, lang, source)
        (1, a, "en", "sa"),
        # same TOKEN sequence as 1 (double space → md5 differs, token
        # shingles identical) → jaccard 1.0 → drops at lsh_neardup
        (2, a.replace(" ", "  ", 1), "en", "sa"),
        # byte-identical to 1 → drops at exact_dedup (keep lowest id)
        (3, a, "en", "sa"),
        (4, _words("b", 30), "en", "sa"),
        (5, _words("c", 30), "en", "sb"),
        # non-keep-list language → drops at lang
        (6, _words("z", 12), "zh", "sa"),
        # shares the 5-gram "ea... ee..." with eval doc 10 → decontam
        (7, "eaa ebb ecc edd eee " + _words("f", 25), "en", "sa"),
        (8, _words("d", 30), "en", "sb"),
        # embedding identical to doc 8's → drops at semantic_dedup
        (9, _words("g", 30), "en", "sb"),
        # doc_id % 10 == 0: IS the eval split → drops at decontam
        (10, "eaa ebb ecc edd eee " + _words("h", 7), "en", "sa"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def _embeddings(spark):
    rows = [
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (4, [0.0, 0.0, 1.0, 0.0], 0),
        (8, [1.0, 0.0, 0.0, 0.0], 1),
        (9, [1.0, 0.0, 0.0, 0.0], 1),  # identical to 8 → cos 1.0
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _h60_ppm(doc_id: int) -> int:
    # portable_hash60(CAST(doc_id AS STRING)) % 1e6, recomputed
    # independently of the engine
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 1_000_000


def test_prepare_corpus_stage_semantics(spark):
    stats = {
        r["stage_name"]: r
        for r in corpus_pipeline_stats(_docs(spark), _embeddings(spark)).collect()
    }
    assert list(stats) == list(STAGE_NAMES)

    # engineered drop at each stage
    assert stats["input"]["docs_out"] == 10
    assert stats["quality"]["docs_out"] == 10  # flat scores: none drop
    assert stats["lang"]["docs_out"] == 9  # doc 6 (zh)
    assert stats["exact_dedup"]["docs_out"] == 8  # doc 3 (byte dup of 1)
    assert stats["lsh_neardup"]["docs_out"] == 7  # doc 2 (token dup of 1)
    assert stats["semantic_dedup"]["docs_out"] == 6  # doc 9 (emb dup of 8)
    # doc 10 is the eval split itself, doc 7 shares its 5-gram
    assert stats["decontam"]["docs_out"] == 4

    # budget stage: survivors {1, 4} in sa (60 tok), {5, 8} in sb (60
    # tok); budget = 60, water level 30 → cap 30 per source → ppm rate
    # 500000; the keep rule is the portable md5 formula
    kept = [
        i
        for i, src in [(1, "sa"), (4, "sa"), (5, "sb"), (8, "sb")]
        if _h60_ppm(i) < 500_000
    ]
    assert stats["budget_sample"]["docs_out"] == len(kept)
    assert stats["budget_sample"]["tokens_out"] == 30 * len(kept)

    # pack: capacity 256 > any stream's tokens → one bin per occupied
    # (source, doc_id % 8) stream
    streams = {(src, i % 8) for i, src in [(1, "sa"), (4, "sa"), (5, "sb"), (8, "sb")] if i in kept}
    assert stats["pack"]["docs_out"] == len(streams)
    assert stats["pack"]["docs_dropped"] == 0

    # chaining invariants
    for k in range(1, len(STAGE_NAMES)):
        prev, cur = stats[STAGE_NAMES[k - 1]], stats[STAGE_NAMES[k]]
        assert cur["docs_in"] == prev["docs_out"]
        if STAGE_NAMES[k] != "pack":
            assert cur["docs_dropped"] == cur["docs_in"] - cur["docs_out"]


def _scored(prefix: str, k: int) -> str:
    # ten alpha-only words, k of them en stopwords: quality_micros is
    # floor(1e6 * k / 10) - 0 = 100_000 * k
    return " ".join(list(LANG_MARKERS["en"][:k]) + _words(prefix, 10 - k).split())


def test_prepare_corpus_quality_gate_drops_below_source_p25(spark):
    from tmdb_index_spark.operators.materialize import release_pins

    # (source, stopword count k) per doc; doc ids 1..16 in this order
    plan = (
        # n=6: p25 at sorted position (6+3)//4 = 2 -> k=2; the k=0 doc
        # drops, the three k=2 docs tie at the threshold and stay
        [("sa", k) for k in (2, 0, 5, 2, 3, 2)]
        # n=9: position (9+3)//4 = 3 -> k=2, tied at positions 2-4; the
        # k=0 doc drops
        + [("sb", k) for k in (3, 2, 6, 2, 0, 4, 2, 5, 3)]
        # one-doc source: its own p25, so its k=0 doc stays
        + [("sc", 0)]
    )
    rows = [
        (i, _scored(chr(97 + i), k), "en", src)
        for i, (src, k) in enumerate(plan, start=1)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = prepare_corpus(docs, _embeddings(spark))
    stages = dict(out["stages"])
    scores = {
        r["doc_id"]: r["__q__"]
        for r in stages["input"].select("doc_id", "__q__").collect()
    }
    kept = sorted(r["doc_id"] for r in stages["quality"].collect())
    release_pins()
    assert scores == {i: 100_000 * k for i, (_, k) in enumerate(plan, 1)}
    # docs 2 (sa, k=0) and 11 (sb, k=0) drop: docs_out = 16 - 2
    assert kept == [i for i in range(1, 17) if i not in (2, 11)]
    assert len(kept) == 14


def test_corpus_pipeline_stats_job_count(spark):
    # the quality threshold is one hash aggregate, not the bucketed
    # grouped_rank chain (percentile_approx cuts, offset and row_number
    # windows) that the stats ran three times: 52 jobs over the build
    # and the collect, where the chain took 88
    from tmdb_index_spark.operators.materialize import release_pins

    sc = spark.sparkContext
    group = "test-corpus-stats-jobs"
    sc.setJobGroup(group, "corpus stats job count")
    try:
        stats = corpus_pipeline_stats(_docs(spark), _embeddings(spark))
        plan = stats._jdf.queryExecution().optimizedPlan().toString()
        assert len(stats.collect()) == len(STAGE_NAMES)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        release_pins()
    assert "percentile_disc" in plan
    assert "percentile_approx" not in plan
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 52


def test_prepare_corpus_returns_survivor_frames(spark):
    out = prepare_corpus(_docs(spark), _embeddings(spark))
    by_name = dict(out["stages"])
    surv = sorted(
        r["doc_id"] for r in by_name["decontam"].select("doc_id").collect()
    )
    assert surv == [1, 4, 5, 8]
    # packed frame: one row per sampled doc, with shard/bin assignment
    packed = out["packed"].collect()
    assert all(r["bin"] == 0 for r in packed)  # capacity 256 > streams
    # allocation table covers both sources with the 30-token water level
    caps = {r["source"]: r for r in out["caps"].collect()}
    assert caps["sa"]["allocation"] == 30.0
    assert caps["sb"]["allocation"] == 30.0
    assert not caps["sa"]["capped"]


def test_prepare_corpus_pq_payload_matches_raw_on_exact_codes(spark):
    """semantic_payload='pq': the election shuffle carries PQ codes
    instead of vectors. On this corpus every embedding subvector is a
    distinct codebook word (4 vectors, ks=16), so reconstruction is
    exact and the per-stage yields must equal the raw payload's."""
    raw = {
        (r["stage"], r["docs_out"])
        for r in corpus_pipeline_stats(
            _docs(spark), _embeddings(spark)
        ).collect()
    }
    pq = {
        (r["stage"], r["docs_out"])
        for r in corpus_pipeline_stats(
            _docs(spark),
            _embeddings(spark),
            semantic_payload="pq",
            pq_m=4,
        ).collect()
    }
    assert pq == raw

    import pytest

    with pytest.raises(ValueError, match="semantic_payload"):
        prepare_corpus(
            _docs(spark), _embeddings(spark), semantic_payload="nope"
        )


def test_pin_frame_checkpoint_truncates_lineage(spark):
    from tmdb_index_spark.operators.materialize import pin_frame, release_pins

    df = spark.range(100).selectExpr("id", "id * 2 AS v").filter("v > 10")
    out = pin_frame(df, "checkpoint")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the logical plan must be the truncated RDD scan, not the Range →
    # Project → Filter lineage (chained pins would otherwise compound
    # into a k^n-node plan tree — the OOM this mode exists to prevent)
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    assert "Range" not in plan
    assert out.count() == 94
    release_pins()


# ------------------------------------------------ incremental ingest


def _ing_docs(spark, rows_):
    return spark.createDataFrame(
        rows_, "doc_id long, text string, lang string, source string"
    )


def test_ingest_two_batches_dedups_against_prior_survivors(spark):
    """Batch-2 must dedup against batch-1's SURVIVORS (they were folded
    into the index), and re-sent ids must update in place — the
    reference's daily-incremental semantics. Near-dups here are cyclic
    token rotations: identical shingle SETS (jaccard 1.0, every band
    collides — detection is deterministic) but different text (so the
    exact stages pass them through)."""
    from tmdb_index_spark.operators.corpus_pipeline import (
        ingest_corpus_batch,
    )
    from tmdb_index_spark.operators.materialize import release_pins

    index0 = _ing_docs(
        spark,
        [
            (1, "fox quick brown fox quick brown", "en", "web"),
            (2, "totally unrelated reference corpus text", "en", "web"),
        ],
    )
    batch1 = _ing_docs(
        spark,
        [
            # exact dup of index doc 1's text -> exact_index_dup
            (10, "fox quick brown fox quick brown", "en", "crawl"),
            # novel -> kept
            (11, "spark engine node spark engine node", "en", "crawl"),
            # exact dup of 11 within the batch -> exact_batch_dup
            (12, "spark engine node spark engine node", "en", "crawl"),
            # rotation of index doc 1 -> near_index_dup
            (13, "quick brown fox quick brown fox", "en", "crawl"),
        ],
    )
    r1 = ingest_corpus_batch(index0, batch1)
    s1 = r1["stats"].collect()[0].asDict()
    assert s1 == {
        "source": "crawl",
        "n_batch": 4,
        "n_exact_batch_dup": 1,
        "n_exact_index_dup": 1,
        "n_near_index_dup": 1,
        "n_kept": 1,
        "kept_rate": 0.25,
    }
    idx1 = r1["new_index"]
    assert {r["doc_id"] for r in idx1.select("doc_id").collect()} == {
        1, 2, 11,
    }

    batch2 = _ing_docs(
        spark,
        [
            # exact dup of batch-1 SURVIVOR 11 -> exact_index_dup
            (20, "spark engine node spark engine node", "en", "crawl"),
            # rotation of survivor 11 -> near_index_dup
            (21, "engine node spark engine node spark", "en", "crawl"),
            # novel -> kept
            (22, "genuinely fresh unseen sentence entirely", "en", "crawl"),
            # re-sent id 2 with new novel text -> kept, REPLACES in index
            (2, "replacement text for document two", "en", "web"),
        ],
    )
    r2 = ingest_corpus_batch(idx1, batch2)
    s2 = {r["source"]: r.asDict() for r in r2["stats"].collect()}
    assert s2["crawl"]["n_exact_index_dup"] == 1
    assert s2["crawl"]["n_near_index_dup"] == 1
    assert s2["crawl"]["n_kept"] == 1
    assert s2["web"] == {
        "source": "web",
        "n_batch": 1,
        "n_exact_batch_dup": 0,
        "n_exact_index_dup": 0,
        "n_near_index_dup": 0,
        "n_kept": 1,
        "kept_rate": 1.0,
    }
    idx2 = {r["doc_id"]: r["text"] for r in r2["new_index"].collect()}
    assert set(idx2) == {1, 2, 11, 22}
    assert idx2[2] == "replacement text for document two"  # upsert wins
    release_pins()


def test_ingest_batch_validation_empty_batch(spark):
    from tmdb_index_spark.operators.corpus_pipeline import (
        ingest_corpus_batch,
    )
    from tmdb_index_spark.operators.materialize import release_pins

    index0 = _ing_docs(spark, [(1, "some standing index text", "en", "web")])
    empty = _ing_docs(spark, [])
    r = ingest_corpus_batch(index0, empty)
    assert r["stats"].count() == 0
    assert r["new_index"].count() == 1
    release_pins()


def test_ingest_semantic_stage_catches_paraphrase_missed_by_minhash(spark):
    """The round-12 semantic novelty stage: batch 2 contains a
    PARAPHRASE-grade near-dup of an indexed doc — completely disjoint
    token set (shingle Jaccard 0, so MinHash passes it) but a
    near-identical embedding — which must drop at stage 3b and be
    counted in n_semantic_index_dup; a genuinely novel doc with an
    unrelated embedding must survive the same stage."""
    import numpy as np

    from tmdb_index_spark.operators.corpus_pipeline import (
        ingest_corpus_batch,
    )
    from tmdb_index_spark.operators.materialize import release_pins

    rng = np.random.RandomState(7)
    dim = 64
    idx_vecs = rng.randn(40, dim)
    idx_rows = [
        (i, f"indexed document number {i} body token{i}a token{i}b", "en", "web")
        for i in range(40)
    ]
    index = _ing_docs(spark, idx_rows)

    # paraphrase of doc 3: disjoint words, embedding = doc 3's + tiny
    # noise (cos ~ 0.999); novel doc: its own random direction
    para_vec = idx_vecs[3] + 0.01 * rng.randn(dim)
    # pick the first seeded direction that is genuinely far from EVERY
    # index vector (40 random vectors in 16 dims leave little room, so
    # search deterministically instead of hoping)
    novel_vec = None
    for s in range(200):
        cand = np.random.RandomState(1000 + s).randn(dim)
        cos = idx_vecs @ cand / (
            np.linalg.norm(idx_vecs, axis=1) * np.linalg.norm(cand)
        )
        if np.abs(cos).max() < 0.4:
            novel_vec = cand
            break
    assert novel_vec is not None

    batch = _ing_docs(
        spark,
        [
            (100, "rewritten phrasing entirely different surface form", "en", "crawl"),
            (101, "fresh unrelated content about something else", "en", "crawl"),
        ],
    )
    emb_rows = [(int(i), [float(x) for x in idx_vecs[i]]) for i in range(40)]
    emb_rows += [
        (100, [float(x) for x in para_vec]),
        (101, [float(x) for x in novel_vec]),
    ]
    emb = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    )

    r = ingest_corpus_batch(
        index, batch, embeddings=emb, semantic_threshold=0.6
    )
    s = r["stats"].collect()[0].asDict()
    assert s == {
        "source": "crawl",
        "n_batch": 2,
        "n_exact_batch_dup": 0,
        "n_exact_index_dup": 0,
        "n_near_index_dup": 0,
        "n_semantic_index_dup": 1,
        "n_kept": 1,
        "kept_rate": 0.5,
    }
    kept_ids = {x["doc_id"] for x in r["kept"].collect()}
    assert kept_ids == {101}
    # the paraphrase must NOT be in the new index; the novel doc must
    new_ids = {x["doc_id"] for x in r["new_index"].select("doc_id").collect()}
    assert 100 not in new_ids and 101 in new_ids
    # and WITHOUT the semantic stage the paraphrase sails through —
    # the stage is what catches it
    r0 = ingest_corpus_batch(index, batch)
    assert {x["doc_id"] for x in r0["kept"].collect()} == {100, 101}
    release_pins()


# ---------------------------------------------------------------------------
# tokenize_and_mix (round-12: the corpus→training-batches final stage)
# ---------------------------------------------------------------------------

_TM_MERGES = [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d")]


def _bpe_count(text: str, merges=None) -> int:
    """Independent reference BPE: greedy left-to-right non-overlapping
    replace per merge, in merge order, within whitespace words."""
    merges = _TM_MERGES if merges is None else merges
    total = 0
    for word in text.split():
        syms = list(word)
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        total += len(syms)
    return total


def test_tokenize_and_mix_chain_semantics(spark):
    from tmdb_index_spark.operators.corpus_pipeline import tokenize_and_mix

    texts = {
        1: "the thin hand and then",
        2: "tin than the and",
        3: "north east north east north",
        4: "the and the and the and",
        5: "earth north thin",
        6: "ant and tan and",
    }
    docs = spark.createDataFrame(
        [(i, "s0", t) for i, t in texts.items()],
        "doc_id long, source string, text string",
    )
    res = tokenize_and_mix(
        docs, _TM_MERGES, budget_den=2, capacity=8, shards=2
    )

    # 1. encode: real BPE counts, verified against an independent
    #    per-word greedy merger
    enc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in res["encoded"].select("doc_id", "n_bpe_tokens").collect()
    }
    assert enc == {i: _bpe_count(t) for i, t in texts.items()}
    avail = sum(enc.values())

    # 2. single source ⇒ the temperature pivot degenerates to
    #    alloc = budget = floor(avail / 2) (uncapped at epoch_cap=2)
    alloc_rows = res["alloc"].collect()
    assert len(alloc_rows) == 1
    assert alloc_rows[0]["avail_tokens"] == avail
    assert alloc_rows[0]["allocation"] == float(avail // 2)
    assert not alloc_rows[0]["capped"]

    # 3. sample: membership is exactly the portable md5-bucket rule at
    #    rate alloc/avail (w̄ = 1 for a single source)
    cap = avail // 2
    keep_buckets = int(min(1.0, float(cap) * 1.0 / avail) * 10_000)
    expected_kept = {
        i
        for i in texts
        if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10_000
        < keep_buckets
    }
    kept = {r["doc_id"] for r in res["sampled"].select("doc_id").collect()}
    assert kept == expected_kept
    assert kept  # the fixture must actually exercise the keep branch

    # 4. pack: bins assigned on the BPE costs (first-token rule) within
    #    (source, doc_id % shards) streams ordered by doc_id
    packed = res["packed"].select(
        "doc_id", "n_tokens", "shard", "bin"
    ).collect()
    assert {r["doc_id"] for r in packed} == expected_kept
    for r in packed:
        assert r["n_tokens"] == enc[r["doc_id"]]  # BPE, not whitespace
        assert r["shard"] == r["doc_id"] % 2
    for shard in (0, 1):
        start = 0
        for r in sorted(
            (r for r in packed if r["shard"] == shard),
            key=lambda r: r["doc_id"],
        ):
            assert r["bin"] == start // 8
            start += r["n_tokens"]


def test_tokenize_and_mix_empty_corpus(spark):
    from tmdb_index_spark.operators.corpus_pipeline import tokenize_and_mix

    empty = spark.createDataFrame(
        [], "doc_id long, source string, text string"
    )
    res = tokenize_and_mix(empty, _TM_MERGES)
    assert res["packed"].count() == 0
    assert res["alloc"].count() == 0


def test_prepare_corpus_merges_switches_packing_to_bpe_costs(spark):
    docs, emb = _docs(spark), _embeddings(spark)
    out = prepare_corpus(
        docs, emb, capacity=16, shards=2, merges=_TM_MERGES
    )
    assert "mix_alloc" in out and "mix_sampled" in out
    survivors = {
        r["doc_id"]
        for r in out["stages"][-1][1].select("doc_id").collect()
    }
    packed = out["packed"].select("doc_id", "text", "n_tokens").collect()
    # the mixture gate only narrows the stage-7 survivor set
    assert {r["doc_id"] for r in packed} <= survivors
    for r in packed:  # bins are costed in REAL BPE tokens
        assert r["n_tokens"] == _bpe_count(r["text"])


# ---------------------------------------------------------------------------
# ann_store (round-13: persisted, versioned ANN model artifacts)
# ---------------------------------------------------------------------------


def test_ann_model_save_load_roundtrip_and_torn_rejection(spark, tmp_path):
    from tmdb_index_spark.operators.ann_store import (
        ann_model_fingerprint,
        load_ann_model,
        save_ann_model,
    )

    cents = [(0, [0.0, 1.0]), (1, [2.0, 3.0])]
    books = [[(0, [0.5]), (1, [1.5])], [(0, [2.5]), (1, [3.5])]]
    path = str(tmp_path / "ann_model.parquet")
    meta = save_ann_model(
        spark, path, cents, books, fit_id=1, n_fit=40, pq_m=2, pq_ks=2
    )
    assert meta["cells"] == 2 and meta["fit_id"] == 1
    got = load_ann_model(spark, path)
    assert got is not None
    assert got["centroids"] == cents
    assert got["codebooks"] == books
    assert got["meta"] == meta
    assert meta["fit_md5"] == ann_model_fingerprint(cents, books)

    # absent path -> None (cold cache, not an error)
    assert load_ann_model(spark, str(tmp_path / "nope")) is None

    # torn artifact (a model piece missing) -> rejected wholesale
    df = spark.read.parquet(path)
    df.filter("kind <> 'pq'").write.mode("overwrite").parquet(
        str(tmp_path / "torn.parquet")
    )
    assert load_ann_model(spark, str(tmp_path / "torn.parquet")) is None


def test_ann_model_stale_occupancy_rule():
    """Refit when the current index size wants >= 2x (or <= 1/2x) the
    fitted cell count under the shared semantic_cells rule."""
    from tmdb_index_spark.operators.ann_store import ann_model_stale

    meta1 = {"cells": 1}
    assert not ann_model_stale(meta1, 40)     # want 1 cell: fresh
    assert not ann_model_stale(meta1, 150)    # want 1 cell: fresh
    assert ann_model_stale(meta1, 256)        # want 2 cells: grew 2x
    meta4 = {"cells": 4}
    assert not ann_model_stale(meta4, 512)    # want 4: fresh
    assert ann_model_stale(meta4, 128)        # want 1, 2*1 <= 4: shrank


def test_ingest_ann_model_artifact_reuse_and_refit(spark, tmp_path):
    """Two semantic batches against the same model_path: batch 1 fits
    and persists fit_id 1; batch 2 RELOADS it (reused flag, identical
    fingerprint — zero refit work) and produces the same novelty
    verdicts; a parameter change that invalidates the artifact refits
    and bumps fit_id."""
    import numpy as np

    from tmdb_index_spark.operators.corpus_pipeline import (
        ingest_corpus_batch,
    )
    from tmdb_index_spark.operators.materialize import release_pins

    rng = np.random.RandomState(11)
    dim = 16
    idx_vecs = rng.randn(30, dim)
    index = _ing_docs(
        spark,
        [(i, f"indexed doc {i} tok{i}x tok{i}y", "en", "web") for i in range(30)],
    )
    emb_rows = [(int(i), [float(x) for x in idx_vecs[i]]) for i in range(30)]
    # batch 1: a paraphrase of doc 5 (same direction + tiny noise);
    # batch 2: a paraphrase of doc 7
    emb_rows += [
        (200, [float(x) for x in idx_vecs[5] + 0.01 * rng.randn(dim)]),
        (201, [float(x) for x in idx_vecs[7] + 0.01 * rng.randn(dim)]),
    ]
    emb = spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    )
    mp = str(tmp_path / "ann_model.parquet")

    b1 = _ing_docs(spark, [(200, "totally different words alpha", "en", "c")])
    r1 = ingest_corpus_batch(
        index, b1, embeddings=emb, semantic_threshold=0.6, model_path=mp
    )
    assert r1["ann_model"]["reused"] is False
    assert r1["ann_model"]["fit_id"] == 1
    assert {x["doc_id"] for x in r1["kept"].collect()} == set()  # para drops

    b2 = _ing_docs(spark, [(201, "other surface form beta", "en", "c")])
    r2 = ingest_corpus_batch(
        r1["new_index"], b2, embeddings=emb, semantic_threshold=0.6,
        model_path=mp,
    )
    # index unchanged in size class -> the stored fit is reused verbatim
    assert r2["ann_model"]["reused"] is True
    assert r2["ann_model"]["fit_id"] == 1
    assert r2["ann_model"]["fit_md5"] == r1["ann_model"]["fit_md5"]
    assert {x["doc_id"] for x in r2["kept"].collect()} == set()

    # a pq geometry change invalidates the artifact -> refit, version 2
    r3 = ingest_corpus_batch(
        r1["new_index"], b2, embeddings=emb, semantic_threshold=0.6,
        model_path=mp, pq_m=4,
    )
    assert r3["ann_model"]["reused"] is False
    assert r3["ann_model"]["fit_id"] == 2
    assert r3["ann_model"]["pq_m"] == 4
    # without model_path the composite still works (refit-per-call)
    r4 = ingest_corpus_batch(
        r1["new_index"], b2, embeddings=emb, semantic_threshold=0.6
    )
    assert r4["ann_model"] is None
    release_pins()


def test_prepare_corpus_model_artifact_reuse(spark, tmp_path):
    """prepare_corpus(model_path=...) persists the SemDeDup fit like
    the ingestion composite: build 1 fits + saves v1 (centroid-only
    under the raw payload), build 2 over the same embedding space
    reuses it verbatim with identical stage yields; the pq payload
    refuses a centroid-only artifact and refits with codebooks."""
    from tmdb_index_spark.operators.corpus_pipeline import prepare_corpus
    from tmdb_index_spark.operators.materialize import release_pins

    docs, emb = _docs(spark), _embeddings(spark)
    mp = str(tmp_path / "corpus_ann.parquet")

    def yields(out):
        return [
            (name, frame.count()) for name, frame in out["stages"]
        ]

    r1 = prepare_corpus(docs, emb, materialize="cache", model_path=mp)
    assert r1["ann_model"]["reused"] is False
    assert r1["ann_model"]["fit_id"] == 1
    assert r1["ann_model"]["pq_m"] == 0  # centroid-only (raw payload)
    y1 = yields(r1)
    release_pins()

    r2 = prepare_corpus(docs, emb, materialize="cache", model_path=mp)
    assert r2["ann_model"]["reused"] is True
    assert r2["ann_model"]["fit_id"] == 1
    assert yields(r2) == y1  # identical stage yields from the reuse
    release_pins()

    # the pq payload cannot reuse a centroid-only artifact -> v2
    r3 = prepare_corpus(
        docs, emb, materialize="cache", model_path=mp,
        semantic_payload="pq", pq_m=2, pq_ks=4,
    )
    assert r3["ann_model"]["reused"] is False
    assert r3["ann_model"]["fit_id"] == 2
    assert r3["ann_model"]["pq_m"] == 2
    release_pins()

    # without model_path nothing is persisted or reported
    r4 = prepare_corpus(docs, emb, materialize="cache")
    assert r4["ann_model"] is None
    release_pins()
