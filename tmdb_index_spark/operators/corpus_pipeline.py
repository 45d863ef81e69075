"""End-to-end training-corpus preparation composite.

The reference's defining artifact is ONE composed pipeline —
``process()`` chains fetch → upsert → enrich → flag into the artifact
users actually run (``tmdb_index.py:546-568``); the stages are
implementation detail. This module applies that lesson to the
north-star LLM-data surface: :func:`prepare_corpus` composes the
individually-certified stage operators into the full corpus-prep
chain a pretraining data pipeline runs, in order:

0. **input** — one projection computing the per-doc token count
   (BPE-ish regex) and the integer-micro quality score once; every
   later stage reuses both instead of re-tokenizing.
1. **quality** — per-source ADAPTIVE p25 threshold (the FineWeb
   per-dump lesson; same recipe as the certified
   ``adaptive_quality_filter``): keep docs scoring at or above their
   source's 25th percentile. The threshold is one exact hash
   aggregate (:func:`quality_p25`), broadcast back.
2. **lang** — declared-language keep-list.
3. **exact_dedup** — keep lowest id per md5(text).
4. **lsh_neardup** — MinHash-LSH candidate pairs + exact Jaccard
   verify (:func:`minhash_lsh_pairs`); the HIGHER id of each
   verified pair drops (the ``clean_corpus`` keeper rule).
5. **semantic_dedup** — SemDeDup over the embeddings of the
   SURVIVORS: k-means cells fit on the FULL embeddings table (the
   cluster structure is corpus-level, and it keeps the fit
   independent of upstream filter params), within-cell smaller-id
   election at ``semantic_threshold``. Docs without an embedding row
   pass through — you cannot semantically dedup what you never
   embedded.
6. **decontam** — drop survivors that ARE the held-out eval split
   (``doc_id % eval_mod == 0`` — split separation) or that share any
   5-gram with it (:func:`ngram_contamination`; eval n-gram hashes
   broadcast, train side never shuffles).
7. **budget_sample** — water-filling token-budget allocation across
   sources (:func:`waterfill_allocation`, budget = total/2 by
   default), then a MAP-ONLY deterministic hash-rate sample per
   source: keep a doc iff ``portable_hash60(doc_id) % 1e6 <
   cap·1e6 div avail``. No per-source ordered scan — the greedy
   cumsum-prefix alternative funnels each source through one task at
   scale, while the hash-rate rule is embarrassingly parallel and
   engine-portable (expected fill = the allocation, like real
   rate-based mixture sampling).
8. **pack** — concat-and-chunk the sampled docs into
   ``capacity``-token bins within (source, ``doc_id % shards``)
   streams (:func:`pack_sequences`); reported as sequences produced.

:func:`corpus_pipeline_stats` materializes the audit artifact: one
row per stage with exact integer ``docs_in / docs_out /
docs_dropped / tokens_out`` — the per-stage yield report every
corpus-prep run publishes.

Scale design: the survivor frames of stages 0 and 3-7 are pinned
(:func:`pin_frame` — ``checkpoint`` here: chained pins need the
logical-plan truncation, not just the data pin; ``parquet`` at
100 TB) so the documents parquet is scanned O(1) times and each
pinned stage's work runs once however many consumers read it (the
next stage and the stats union). The unpinned quality and lang
stages are a filter behind one small per-source aggregate over the
pinned input, re-run by each consumer. No stage introduces an
unbounded window: the quality threshold is a bounded-buffer hash
aggregate, budget sampling is map-only, packing shards its running
sums. The only driver-side materializations are the bounded k-means
fit sample and the |sources|-row allocation table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmdb_index_spark.functions.text import (
    portable_hash60,
    quality_micros,
    quality_p25,
    token_count,
)
from tmdb_index_spark.operators.dedup import dedup_keep_first
from tmdb_index_spark.operators.dedup_text import minhash_lsh_pairs
from tmdb_index_spark.operators.llm_prep import (
    ngram_contamination,
    pack_sequences,
)
from tmdb_index_spark.operators.materialize import pin_frame
from tmdb_index_spark.operators.sampling import waterfill_allocation
from tmdb_index_spark.operators.similarity import (
    IVF_BLAS_ASSIGN_THRESHOLD,
    fit_centroids,
    fit_pq,
    ivf_assign,
    pq_encode,
    semantic_cells,
    semantic_dedup_with_centroids,
    semantic_elect_codes,
)

__all__ = [
    "prepare_corpus",
    "tokenize_and_mix",
    "corpus_pipeline_stats",
    "ingest_corpus_batch",
    "STAGE_NAMES",
]

#: Stage order of the composite — index = the ``stage`` column of the
#: stats frame.
STAGE_NAMES: tuple[str, ...] = (
    "input",
    "quality",
    "lang",
    "exact_dedup",
    "lsh_neardup",
    "semantic_dedup",
    "decontam",
    "budget_sample",
    "pack",
)


def prepare_corpus(
    docs: DataFrame,
    embeddings: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    jaccard_threshold: float = 0.8,
    semantic_threshold: float = 0.4,
    eval_mod: int = 10,
    ngram_n: int = 5,
    budget_den: int = 2,
    capacity: int = 256,
    shards: int = 8,
    materialize: str = "checkpoint",
    scratch_dir: str | None = None,
    semantic_payload: str = "raw",
    pq_m: int = 8,
    pq_ks: int = 16,
    merges: list[tuple[str, str]] | None = None,
    mix_temperature: float = 2.0,
    mix_epoch_cap: int = 2,
    mix_budget_den: int = 4,
    model_path: str | None = None,
) -> dict:
    """Run the full corpus-prep chain; returns ``{"stages": [(name,
    survivor_frame), ...], "packed": packed_frame, "caps":
    allocation_frame, "ann_model": artifact meta + reused flag or
    None}``. Stage frames are pinned; call
    :func:`~tmdb_index_spark.operators.materialize.release_pins` after
    the consumer materializes.

    ``semantic_payload`` picks what the SemDeDup stage ships through
    its per-cell shuffle: ``"raw"`` (default — the certified
    oracle-mirrored election over full vectors) or ``"pq"`` (each
    survivor embedding is product-quantized map-side and only the
    8-int code word crosses the shuffle — ~16× smaller at d=64
    float64; election scores pairs from codes alone via
    :func:`~tmdb_index_spark.operators.similarity
    .semantic_elect_codes`, the FAISS memory story for the 100 TB
    composite). The PQ codebooks ride the same bounded deterministic
    sample as the cell fit.

    ``model_path`` (round 13, the :func:`ingest_corpus_batch` recipe)
    persists the SemDeDup stage's fit as a versioned artifact
    (:mod:`~tmdb_index_spark.operators.ann_store`): repeated corpus
    builds over the same embedding space — the weekly re-curation
    cadence — reload the stored centroids (and codebooks under
    ``semantic_payload="pq"``) instead of refitting, with the same
    occupancy-rule staleness and parameter-mismatch refit triggers.
    With the ``"raw"`` payload the artifact is centroid-only
    (``pq_m=0``).

    ``merges`` (a BPE merge table — :func:`~tmdb_index_spark.operators
    .llm_prep.bpe_train_merges` output pairs) switches the final stage
    to the :func:`tokenize_and_mix` composite: survivors are BPE-
    encoded, temperature-mixed (``mix_temperature`` /
    ``mix_epoch_cap`` / ``mix_budget_den``) and packed on REAL token
    counts; the result dict gains ``mix_alloc`` / ``mix_sampled`` and
    ``packed`` holds the tokenizer-costed bins."""
    emb_id, emb_vec = "vec_id", "embedding"

    # cheap argument validation up front: an invalid semantic_payload
    # must fail BEFORE stages 1-4 pin frames and run counts/actions,
    # not waste the whole upstream pipeline at stage 5
    if semantic_payload not in ("raw", "pq"):
        raise ValueError(
            f"semantic_payload must be 'raw' or 'pq', got "
            f"{semantic_payload!r}"
        )
    if pq_m < 1 or pq_ks < 2:
        raise ValueError(
            f"pq_m must be >= 1 and pq_ks >= 2, got m={pq_m}, ks={pq_ks}"
        )

    # --- stage-5 fit, launched CONCURRENTLY with stages 0-4 (guide
    # §2.6 overlap independent jobs): the cell fit (and PQ codebook
    # fit) depend ONLY on the full embeddings table — corpus-level
    # structure, never the survivor chain (that independence is
    # exactly why the oracle can re-fit without replaying the stages)
    # — while stages 0-4 serialize on their pin materializations. One
    # driver side-thread runs the footer count, artifact load/staleness
    # check and the bounded sample collect + numpy Lloyd iterations
    # while the main thread builds the chain; results are identical
    # because the inputs are identical (same table, same sample rule).
    # Job descriptions/groups are thread-local and the pin ledger is
    # lock-protected (operators/materialize.py). Exceptions surface at
    # .result() — the same stage-5 position they surfaced at before.
    from tmdb_index_spark.operators.ann_store import (
        ann_model_stale,
        load_ann_model,
    )
    from tmdb_index_spark.operators.partitioning import (
        metadata_scan_rowcount,
    )

    need_pq = semantic_payload == "pq"

    def _fit_task() -> tuple:
        n_emb = metadata_scan_rowcount(embeddings)
        if n_emb is None:
            n_emb = embeddings.count()
        stored = (
            load_ann_model(docs.sparkSession, model_path)
            if model_path
            else None
        )
        reuse = (
            stored is not None
            and not ann_model_stale(stored["meta"], n_emb)
            and (
                not need_pq
                or (
                    stored["meta"]["pq_m"] == pq_m
                    and stored["meta"]["pq_ks"] == pq_ks
                    and bool(stored["codebooks"])
                )
            )
        )
        if reuse:
            cents = stored["centroids"]
            books = stored["codebooks"] if need_pq else None
        else:
            cents = fit_centroids(
                embeddings, semantic_cells(n_emb), emb_id, emb_vec
            )
            books = (
                fit_pq(
                    embeddings, m=pq_m, ks=pq_ks,
                    id_col=emb_id, vec_col=emb_vec,
                )
                if need_pq
                else None
            )
        return n_emb, stored, reuse, cents, books

    from concurrent.futures import ThreadPoolExecutor

    _fit_pool = ThreadPoolExecutor(max_workers=1)
    fit_future = _fit_pool.submit(_fit_task)
    try:
        return _prepare_corpus_stages(
            docs,
            embeddings,
            fit_future,
            text_col=text_col,
            id_col=id_col,
            source_col=source_col,
            lang_col=lang_col,
            langs=langs,
            jaccard_threshold=jaccard_threshold,
            semantic_threshold=semantic_threshold,
            eval_mod=eval_mod,
            ngram_n=ngram_n,
            budget_den=budget_den,
            capacity=capacity,
            shards=shards,
            materialize=materialize,
            scratch_dir=scratch_dir,
            semantic_payload=semantic_payload,
            pq_m=pq_m,
            pq_ks=pq_ks,
            merges=merges,
            mix_temperature=mix_temperature,
            mix_epoch_cap=mix_epoch_cap,
            mix_budget_den=mix_budget_den,
            model_path=model_path,
        )
    finally:
        # normal path: the future was consumed at stage 5, nothing to
        # wait for; error path: wait for the in-flight fit so no Spark
        # job outlives the call that launched it
        _fit_pool.shutdown(wait=True)


def _prepare_corpus_stages(
    docs: DataFrame,
    embeddings: DataFrame,
    fit_future,
    *,
    text_col: str,
    id_col: str,
    source_col: str,
    lang_col: str,
    langs: tuple[str, ...],
    jaccard_threshold: float,
    semantic_threshold: float,
    eval_mod: int,
    ngram_n: int,
    budget_den: int,
    capacity: int,
    shards: int,
    materialize: str,
    scratch_dir: str | None,
    semantic_payload: str,
    pq_m: int,
    pq_ks: int,
    merges: list[tuple[str, str]] | None,
    mix_temperature: float,
    mix_epoch_cap: int,
    mix_budget_den: int,
    model_path: str | None,
) -> dict:
    """Stage chain of :func:`prepare_corpus`; ``fit_future`` resolves
    to the concurrently-computed ``(n_emb, stored, reuse, cents,
    books)`` of the semantic stage."""
    emb_id, emb_vec = "vec_id", "embedding"

    base = pin_frame(
        docs.select(
            id_col,
            text_col,
            lang_col,
            source_col,
            token_count(F.coalesce(F.col(text_col), F.lit(""))).cast(
                "long"
            ).alias("n_tokens"),
            quality_micros(F.col(text_col)).alias("__q__"),
        ),
        materialize,
        scratch_dir,
    )

    # 1. per-source adaptive p25 quality gate: one hash aggregate,
    # broadcast back; the inner join drops NULL-source docs (a NULL
    # key never matches)
    thr = base.groupBy(source_col).agg(quality_p25("__q__").alias("__thr__"))
    s1 = (
        base.join(F.broadcast(thr), source_col)
        .filter(F.col("__q__") >= F.col("__thr__"))
        .drop("__thr__")
    )

    # 2. language keep-list
    s2 = s1.filter(F.col(lang_col).isin(*langs))

    # 3. exact dedup: lowest id per content hash
    s3 = pin_frame(
        dedup_keep_first(
            s2.withColumn("__h__", F.md5(F.col(text_col))),
            keys=("__h__",),
            order=(F.col(id_col),),
        ).drop("__h__", "__q__"),
        materialize,
        scratch_dir,
    )

    # 4. MinHash-LSH near-dup: drop the higher id of each verified pair
    pairs = minhash_lsh_pairs(
        s3,
        text_col=text_col,
        id_col=id_col,
        threshold=jaccard_threshold,
        materialize=materialize,
        scratch_dir=scratch_dir,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    # Skip-level plan truncation (round 14): under the default
    # ``"checkpoint"`` mode, only every OTHER stage truncates lineage.
    # ``localCheckpoint`` is not free at build — under AQE its
    # ``execute()`` materializes every intermediate query stage
    # eagerly and SERIALLY (measured ~2-3 s per pin at sf0.1), while
    # the k^n plan-growth the truncation guards against only needs a
    # cut every second stage: a cache-pinned stage's plan embeds one
    # truncated anchor plus one operator subtree, so plan size stays
    # linear in stages. Measured 12.8 -> 12.0 s (warm min) and
    # 27 -> 32s vs 66 -> 35s cold on the full composite. Explicit
    # ``"cache"``/``"parquet"`` callers keep their uniform semantics
    # (parquet = provable exactly-once at 100 TB).
    light = "cache" if materialize == "checkpoint" else materialize
    s4 = pin_frame(
        s3.join(losers, id_col, "left_anti"), light, scratch_dir
    )

    # 5. SemDeDup over survivors' embeddings; docs without one survive
    # (occupancy-constant cell count — the semantic_dedup rule;
    # semantic_payload validated at function entry).  model_path makes
    # the fit a persisted, versioned artifact reused across corpus
    # builds (docstring); a fresh matching artifact skips BOTH fits.
    # The fit itself ran CONCURRENTLY with stages 0-4 (launched in
    # prepare_corpus, guide §2.6) — collect it here, where its first
    # consumer lives and where its errors surfaced before the overlap.
    from tmdb_index_spark.operators.ann_store import save_ann_model

    n_emb, stored, reuse, cents, books = fit_future.result()
    need_pq = semantic_payload == "pq"
    surv_emb = embeddings.join(
        s4.select(F.col(id_col).alias(emb_id)), emb_id
    )
    assign_impl = "pandas" if n_emb >= IVF_BLAS_ASSIGN_THRESHOLD else "expr"
    if semantic_payload == "pq":
        # codebooks fit on the FULL embeddings table (like the cells:
        # corpus-level structure, independent of upstream filters);
        # only (id, cell, codes) crosses the per-cell shuffle
        assigned = ivf_assign(
            surv_emb, cents, emb_id, emb_vec, impl=assign_impl
        )
        coded = pq_encode(assigned, books, emb_id, emb_vec).select(
            emb_id, "cell", "codes"
        )
        flags = semantic_elect_codes(
            coded, semantic_threshold, books, id_col=emb_id
        )
    else:
        flags = semantic_dedup_with_centroids(
            surv_emb,
            cents,
            semantic_threshold,
            id_col=emb_id,
            vec_col=emb_vec,
            assign_impl=assign_impl,
        )
    if reuse:
        ann_model = dict(stored["meta"], reused=True)
    elif model_path:
        fit_id = stored["meta"]["fit_id"] + 1 if stored else 1
        ann_model = dict(
            save_ann_model(
                docs.sparkSession,
                model_path,
                cents,
                books if need_pq else [],
                fit_id=fit_id,
                n_fit=n_emb,
                pq_m=pq_m if need_pq else 0,
                pq_ks=pq_ks if need_pq else 0,
            ),
            reused=False,
        )
    else:
        ann_model = None
    sem_drop = flags.filter(~F.col("keep")).select(
        F.col(emb_id).alias(id_col)
    )
    s5 = pin_frame(
        s4.join(sem_drop, id_col, "left_anti"), materialize, scratch_dir
    )

    # 6. decontamination: drop the eval split itself + 5-gram hits on it
    ev = docs.filter(F.col(id_col) % eval_mod == 0)
    tr = s5.filter(F.col(id_col) % eval_mod != 0)
    hits = ngram_contamination(
        tr, ev, text_col=text_col, id_col=id_col, n=ngram_n
    )
    # cache level of the skip-level alternation (see the s4 comment)
    s6 = pin_frame(
        tr.join(hits.select(id_col), id_col, "left_anti"),
        light,
        scratch_dir,
    )

    # 7. water-filling budget + map-only per-source hash-rate sample
    per_src = s6.groupBy(source_col).agg(
        F.sum("n_tokens").cast("bigint").alias("avail_tokens")
    )
    budget = per_src.agg(
        F.floor(F.sum("avail_tokens") / F.lit(budget_den))
        .cast("bigint")
        .alias("__budget__")
    )
    alloc = waterfill_allocation(
        per_src.crossJoin(F.broadcast(budget)),
        "avail_tokens",
        group_col=source_col,
    )
    caps = alloc.select(
        source_col,
        F.col("avail_tokens").alias("__avail__"),
        F.floor(F.col("allocation")).cast("bigint").alias("__cap__"),
    )
    # keep-rate comparison in parts-per-million via EXACT integer
    # cross-multiplication (hash_ppm · avail < cap · 1e6, DECIMAL —
    # DuckDB's twin uses HUGEINT): the former bigint quotient
    # ``(cap * 1e6) div avail`` overflows once a source's cap exceeds
    # ~9.2e12 tokens, plausible at the module's 100 TB design point
    # (round-10 advisor). A capped source (cap == avail) keeps
    # everything; avail == 0 keeps vacuously.
    hash_ppm = (
        portable_hash60(F.col(id_col).cast("string")) % 1_000_000
    ).cast("decimal(10,0)")
    keep = (F.col("__avail__") == 0) | (
        hash_ppm * F.col("__avail__").cast("decimal(20,0)")
        < F.col("__cap__").cast("decimal(20,0)")
        * F.lit(1_000_000).cast("decimal(10,0)")
    )
    s7 = pin_frame(
        s6.join(F.broadcast(caps), source_col)
        .filter(keep)
        .drop("__avail__", "__cap__"),
        materialize,
        scratch_dir,
    )

    # 8. concat-and-chunk packing (fixed shards → reproducible bins);
    # drop the carried n_tokens first — pack_sequences emits its own
    # (identical) n_tokens and a duplicate column name is ambiguous
    packed = pack_sequences(
        s7.drop("n_tokens"),
        text_col=text_col,
        id_col=id_col,
        group_col=source_col,
        capacity=capacity,
        shards=shards,
    )

    stages = [
        ("input", base),
        ("quality", s1),
        ("lang", s2),
        ("exact_dedup", s3),
        ("lsh_neardup", s4),
        ("semantic_dedup", s5),
        ("decontam", s6),
        ("budget_sample", s7),
    ]
    out = {
        "stages": stages,
        "packed": packed,
        "caps": alloc,
        "ann_model": ann_model,
    }
    if merges is not None:
        # tokenize-and-mix final stage (round-11 verdict #9): re-cost
        # the curated survivors in REAL BPE tokens and run the
        # token-level mixing gate + packing on those counts. Stage 7's
        # water-fill stays the doc-curation budget (whitespace-token
        # costed); this stage is the tokenizer-time mixture a real
        # pipeline runs after curation — the two gates compose, they
        # don't compete. `packed` is REPLACED (bins now hold
        # ``capacity`` BPE tokens — the unit the trainer consumes).
        mix = tokenize_and_mix(
            s7.drop("n_tokens"),
            merges,
            text_col=text_col,
            id_col=id_col,
            source_col=source_col,
            temperature=mix_temperature,
            epoch_cap=mix_epoch_cap,
            budget_den=mix_budget_den,
            capacity=capacity,
            shards=shards,
        )
        out["packed"] = mix["packed"]
        out["mix_alloc"] = mix["alloc"]
        out["mix_sampled"] = mix["sampled"]
    return out


def tokenize_and_mix(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    temperature: float = 2.0,
    epoch_cap: int = 2,
    budget_den: int = 4,
    capacity: int = 256,
    shards: int = 8,
    max_sources: int = 100_000,
) -> dict:
    """Tokenize-and-mix composite — the final corpus→training-batches
    stage of a pretraining pipeline (the reference's build-then-consume
    artifact story, ``tmdb_index.py:546-568`` / ``README.md:6-12``,
    applied to the tokenizer loop): encode the curated corpus with a
    LEARNED BPE merge table, temperature-allocate a token budget
    across sources over the REAL token counts, deterministically
    sample each source at its allocated rate, and concat-and-chunk
    the survivors into ``capacity``-token training bins. Chains the
    four certified operators end-to-end:

    1. :func:`~tmdb_index_spark.operators.llm_prep.bpe_encode`
       (``merges`` — collect :func:`bpe_train_merges`'s k-row output,
       or pin a fixed vocabulary artifact) → per-doc ``n_bpe_tokens``.
       Map-only chained literal replaces, no UDF, no shuffle.
    2. :func:`~tmdb_index_spark.operators.sampling
       .temperature_allocation` over per-source BPE-token availability
       (budget = total // ``budget_den``): the mT5/UniMax mixture rule
       — rare sources boosted by ``avail^(1/T)``, no source repeated
       past ``epoch_cap`` epochs.
    3. :func:`~tmdb_index_spark.operators.sampling.mixture_sample`
       with the allocation as INTEGER weights (``floor(allocation)``,
       budget = their sum — so each source's keep rate lands at
       ``alloc/avail``, clamped at 1; epochs past the first are the
       trainer's loop, not extra rows). Weights ride the plan as a
       literal CASE chain; membership is the portable hash-bucket
       rule — stable across engines, reruns, partitionings.
    4. :func:`~tmdb_index_spark.operators.llm_prep.pack_sequences`
       with ``cost_col="n_bpe_tokens"`` — bins are packed on the REAL
       BPE counts the trainer consumes, not the whitespace proxy.

    Scale shape: one map-only encode pass over the corpus; the
    allocation runs on the |sources|-row frame (collected under
    :func:`bounded_collect`'s declared ``max_sources`` bound — the
    only driver-side rows); sampling is a broadcast-rates filter (the
    corpus never shuffles); packing's one shuffle is the (source,
    shard) window, sharded to cluster width. Determinism: every
    comparison downstream of the correctly-rounded sqrt chain is
    exact-integer or single-division double — an external SQL engine
    reproduces bins bit-for-bit (the ``tokenize_and_mix_stats``
    oracle).

    Returns ``{"encoded": per-doc frame with n_bpe_tokens, "alloc":
    temperature_allocation output, "sampled": kept docs, "packed":
    binned docs (n_tokens = BPE count, shard, bin)}``.
    """
    from tmdb_index_spark.operators.llm_prep import bpe_encode
    from tmdb_index_spark.operators.materialize import bounded_collect
    from tmdb_index_spark.operators.sampling import (
        mixture_sample,
        temperature_allocation,
    )

    # The k-merge replace chain is Θ(corpus · k) per-row work and a
    # single-row-group corpus scans as ONE task — widen first
    # (metadata-only probe; no-op at production scan widths, cheap RDD
    # probe on the already-materialized pin when called from
    # prepare_corpus). Encode, hash-sampling, and packing are all
    # partition-independent, which the stats oracle pins. Measured
    # 2.60 → 1.98 s on the composite at sf0.1. ``docs`` is an ARBITRARY
    # caller frame, so the widen is gated on the probe being provably
    # cheap (file-rooted or pinned — round-14 ADVICE): an unpinned
    # join-bearing corpus must not pay build-time stage
    # materializations just to measure its width.
    from tmdb_index_spark.operators.partitioning import (
        widen_probe_is_cheap,
        widen_small_scan,
    )

    enc = (
        bpe_encode(
            widen_small_scan(docs) if widen_probe_is_cheap(docs) else docs,
            list(merges),
            text_col=text_col,
            out_col="__bpe__",
        )
        .withColumn("n_bpe_tokens", F.size("__bpe__").cast("long"))
        .drop("__bpe__")
    )
    per_src = enc.groupBy(source_col).agg(
        F.sum("n_bpe_tokens").cast("bigint").alias("avail_tokens")
    )
    budget = per_src.agg(
        F.floor(F.sum("avail_tokens") / F.lit(budget_den))
        .cast("bigint")
        .alias("__budget__")
    )
    alloc = temperature_allocation(
        per_src.crossJoin(F.broadcast(budget)),
        "avail_tokens",
        group_col=source_col,
        temperature=temperature,
        epoch_cap=epoch_cap,
    )
    # integer caps: floor of the (rounded-to-4) allocation — exactly
    # reproducible in SQL as FLOOR(ROUND(alloc, 4)). Weights and their
    # sum are Python ints, so mixture_sample's normalization is one
    # correctly-rounded double division per source — engine-identical.
    #
    # The WHOLE |sources|-row allocation frame is collected here (same
    # declared bound the cap projection already had), and the returned
    # ``alloc`` is rebuilt as a literal frame over those rows (round
    # 15, guide §1.2): the caller's consume otherwise re-derived the
    # entire encode → per-source aggregate → allocation subtree a
    # second time just to read |sources| rows that the build already
    # held. Values are byte-identical — no arithmetic happens on the
    # collected rows — and the caps are the same FLOOR over the same
    # doubles (exact in IEEE-754 either way).
    alloc_rows = bounded_collect(
        alloc,
        max_sources,
        "tokenize_and_mix per-source allocation table",
    )
    alloc = docs.sparkSession.createDataFrame(alloc_rows, alloc.schema)
    import math

    weights = {
        r[source_col]: int(math.floor(r["allocation"])) for r in alloc_rows
    }
    total_cap = sum(weights.values())
    if weights and total_cap > 0:
        sampled = mixture_sample(
            enc,
            source_col=source_col,
            cost_col="n_bpe_tokens",
            key=id_col,
            weights=weights,
            budget=float(total_cap),
        )
    else:
        # empty corpus / all-empty texts: nothing to mix
        sampled = enc.filter(F.lit(False))
    packed = pack_sequences(
        sampled,
        text_col=text_col,
        id_col=id_col,
        group_col=source_col,
        capacity=capacity,
        shards=shards,
        cost_col="n_bpe_tokens",
    )
    return {
        "encoded": enc,
        "alloc": alloc,
        "sampled": sampled,
        "packed": packed,
    }


def ingest_corpus_batch(
    index: DataFrame,
    batch: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    materialize: str = "checkpoint",
    scratch_dir: str | None = None,
    broadcast_batch: bool = True,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
    semantic_threshold: float | None = None,
    pq_m: int = 8,
    pq_ks: int = 16,
    model_path: str | None = None,
    index_bands: DataFrame | None = None,
    index_codes: DataFrame | None = None,
    index_codes_fit_md5: str | None = None,
    semantic_assign_impl: str | None = None,
) -> dict:
    """INCREMENTAL corpus ingestion — the daily-maintenance shape that
    is the reference's defining trait (``process()`` folds each day's
    changes into the standing index, ``tmdb_index.py:546-568``,
    resume logic ``:220-238``), applied to corpus dedup: given the
    standing ``index`` and a new ``batch`` of documents, admit only the
    batch's NOVEL content and fold it in. Stages, in order:

    1. **exact-within-batch** — keep the lowest id per
       ``md5(text)`` inside the batch (a crawl batch re-sends its own
       duplicates first).
    2. **exact-vs-index** — anti-join the survivors' content hashes
       against the index's (the index side is a hash-only projection;
       at scale this is the classic bloom-then-verify join shape).
    3. **near-vs-index** — :func:`~tmdb_index_spark.operators
       .dedup_text.minhash_novelty_pairs` at ``jaccard_threshold``:
       strictly batch×index candidates, the batch's band buckets
       broadcast, the index NEVER shuffles for candidate generation.
    3b. **semantic-vs-index** (optional, round 12) — when
       ``embeddings`` and ``semantic_threshold`` are given:
       :func:`~tmdb_index_spark.operators.similarity.pq_novelty_ids`
       drops MinHash survivors whose embedding is a PQ-coded SDC
       cosine ≥ threshold of ANY same-cell index vector — the
       paraphrase-grade rewrites token-level MinHash admits.
       Centroids and PQ codebooks fit on the INDEX side's bounded
       deterministic sample (the standing structure); both sides
       assign + encode map-only, the batch codes broadcast, the index
       never shuffles — the stage inherits stage 3's asymmetric
       contract.  Skipped on bootstrap (empty index).
    4. **fold in** — :func:`~tmdb_index_spark.operators.upsert
       .update_or_append` upserts the kept docs into the index
       (re-sent ids are replaced, new ids append — the reference's
       upsert semantics, so a re-crawled doc updates in place).

    ``model_path`` (round 13) persists the stage-3b fit as a
    VERSIONED parquet artifact (:mod:`~tmdb_index_spark.operators
    .ann_store`): the first semantic batch fits and saves; later
    batches RELOAD the stored centroids + codebooks instead of
    refitting — zero fit sample collects, zero k-means jobs, and
    literal-identical cell assignments across the reuse window — and
    refit (bumping ``fit_id``) only when the occupancy rule trips
    (:func:`~tmdb_index_spark.operators.ann_store.ann_model_stale`)
    or the stored ``pq_m``/``pq_ks`` no longer match.  This is what
    makes daily-cadence incremental SemDeDup viable on a 100 TB
    index; the reference analog is its resume-from-artifact loop
    (``tmdb_index.py:241-256``).

    ``index_codes`` + ``index_codes_fit_md5`` (round 14) complete the
    artifact pair: the standing index's ``(emb_id_col, cell, codes)``
    rows precomputed by :func:`~tmdb_index_spark.operators.similarity
    .pq_code_rows` under the model whose
    :func:`~tmdb_index_spark.operators.ann_store
    .ann_model_fingerprint` is ``index_codes_fit_md5``.  When the
    fingerprint matches the model THIS batch actually uses (reused or
    refit), stage 3b skips the per-batch full-index assign+encode —
    the one remaining index-proportional map cost of the daily loop;
    on any mismatch the rows are ignored and the stage recomputes,
    so a stale sidecar degrades to recompute, never to wrong
    candidates.  ``run_ingest_stream(codes_path=)`` maintains the
    sidecar incrementally.

    ``semantic_assign_impl`` picks stage 3b's cell-assignment engine
    (:func:`~tmdb_index_spark.operators.similarity.ivf_assign`):
    ``"expr"`` is the oracle-exact sequential fold; ``"pandas"`` is
    the BLAS matmul production uses once ``|index|·cells·dim`` makes
    the fold the batch's dominant term (the two differ only on
    float-ULP exact-tie assignments; keep ONE impl for the life of a
    codes sidecar — the streaming loop passes it explicitly for that
    reason).  ``None`` (default, round 14) applies the same size gate
    :func:`prepare_corpus` already uses — ``"pandas"`` at
    ``n_idx >= IVF_BLAS_ASSIGN_THRESHOLD``, ``"expr"`` below — so the
    interpreted fold never becomes the dominant per-batch map cost on
    a large standing index.

    Returns ``{"new_index": frame, "kept": frame, "stats": frame,
    "ann_model": meta-dict + "reused" flag or None}``;
    ``stats`` is the per-source batch yield row — ``(source, n_batch,
    n_exact_batch_dup, n_exact_index_dup, n_near_index_dup, n_kept,
    kept_rate)``, plus ``n_semantic_index_dup`` (before ``n_kept``)
    when stage 3b is enabled — the number an ingestion pipeline
    alarms on when a crawl source starts re-sending old content.
    ``batch`` must be unique on ``id_col`` (the upsert contract).
    Batch-INTERNAL near-dups are deliberately out of scope here: they
    are the batch prep's job (:func:`prepare_corpus` stage 4); this
    composite's contract is batch-vs-index novelty.

    Scale shape: every stage is either map-only, a broadcast join
    against batch-sized sides, or the novelty join whose index side
    never shuffles; the one index-scale shuffle is the final upsert's
    id partition (bucketed indexes use
    :func:`~tmdb_index_spark.operators.upsert.update_or_append_join`
    to avoid even that). The batch frame is pinned once
    (``materialize``); stats consume only batch-sized frames.
    """
    from tmdb_index_spark.operators.dedup_text import minhash_novelty_pairs
    from tmdb_index_spark.operators.upsert import update_or_append

    # --- stage-3b fit, launched CONCURRENTLY with stages 1-3 (guide
    # §2.6, the prepare_corpus overlap): the semantic fit depends only
    # on the INDEX side (embeddings ⋈ index ids — the standing
    # structure), never on the batch's stage chain, so its count job,
    # bounded sample collect and numpy fits run on a driver side-thread
    # while stages 1-3 materialize their pins. Same inputs, same
    # deterministic sample rule → bit-identical fits; exceptions
    # surface at .result(), the same stage-3b position as before.
    semantic = embeddings is not None and semantic_threshold is not None
    ann_model: dict | None = None
    sem_future = None
    sem_pool = None
    if semantic:
        from concurrent.futures import ThreadPoolExecutor

        from tmdb_index_spark.operators.ann_store import (
            ann_model_stale,
            load_ann_model,
            save_ann_model,
        )
        from tmdb_index_spark.operators.similarity import (
            IVF_BLAS_ASSIGN_THRESHOLD,
            fit_kmeans_array,
            fit_pq_array,
            semantic_cells,
        )

        idx_emb = embeddings.join(
            index.select(F.col(id_col).alias(emb_id_col)), emb_id_col
        )

        def _sem_fit_task() -> tuple:
            n_idx = idx_emb.count()
            impl = semantic_assign_impl
            if impl is None:
                # the prepare_corpus size gate: BLAS assignment once
                # the interpreted |index|·cells·dim fold would dominate
                impl = (
                    "pandas"
                    if n_idx >= IVF_BLAS_ASSIGN_THRESHOLD
                    else "expr"
                )
            if n_idx == 0:
                return 0, impl, None, None, None
            spark = index.sparkSession
            stored = (
                load_ann_model(spark, model_path) if model_path else None
            )
            reuse = (
                stored is not None
                and stored["meta"]["pq_m"] == pq_m
                and stored["meta"]["pq_ks"] == pq_ks
                and not ann_model_stale(stored["meta"], n_idx)
            )
            if reuse:
                return (
                    n_idx,
                    impl,
                    stored["centroids"],
                    stored["codebooks"],
                    dict(stored["meta"], reused=True),
                )
            # ONE bounded sample collect feeds BOTH fits: the
            # centroid and codebook fits use the identical
            # deterministic sample (first max_sample rows by id),
            # so collecting it twice was a duplicated
            # join+sort+limit job per refit — the array twins are
            # pure functions of the same sample bytes, results
            # bit-identical (guide §1.2: don't run passes twice)
            import numpy as np

            from tmdb_index_spark.operators.materialize import (
                bounded_collect,
            )

            cells = semantic_cells(n_idx)
            if cells > 10_000:
                # fit_centroids' loud occupancy-cliff guard,
                # preserved verbatim on the shared-sample path
                raise ValueError(
                    f"ingest_corpus_batch: cells={cells} exceeds "
                    "the fit sample cap 10000 — a sampled k-means "
                    "cannot supply more centroids than sample rows"
                )
            sample_rows = bounded_collect(
                idx_emb.select(emb_id_col, emb_vec_col)
                .orderBy(emb_id_col)
                .limit(10_000),
                10_000,
                "semantic fit sample",
            )
            X = np.array(
                [list(r[1]) for r in sample_rows], dtype="float64"
            )
            cents = fit_kmeans_array(X, cells)
            books = fit_pq_array(X, m=pq_m, ks=pq_ks)
            meta = None
            if model_path:
                fit_id = stored["meta"]["fit_id"] + 1 if stored else 1
                meta = dict(
                    save_ann_model(
                        spark,
                        model_path,
                        cents,
                        books,
                        fit_id=fit_id,
                        n_fit=n_idx,
                        pq_m=pq_m,
                        pq_ks=pq_ks,
                    ),
                    reused=False,
                )
            return n_idx, impl, cents, books, meta

        sem_pool = ThreadPoolExecutor(max_workers=1)
        sem_future = sem_pool.submit(_sem_fit_task)

    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    try:
        b = pin_frame(
            batch.withColumn("__h__", h), materialize, scratch_dir
        )

        # 1. exact within batch: lowest id per content hash
        s1 = dedup_keep_first(b, keys=("__h__",), order=(F.col(id_col),))

        # 2. exact vs index: content hash anti-join (index side projects to
        # its distinct hash set — at scale a bloom-then-verify candidate)
        idx_h = index.select(h.alias("__h__")).distinct()
        s2 = pin_frame(
            s1.join(idx_h, "__h__", "left_anti"), materialize, scratch_dir
        )

        # 3. near vs index: batch×index MinHash-LSH + exact-Jaccard verify.
        # ``index_bands`` (round 13) is the persisted band sidecar of the
        # STANDING index — when given, the full-index text re-hash (the
        # dominant per-batch cost of the daily loop) is skipped; results
        # are identical because the banding is a pure function of the
        # text bytes (run_ingest_stream maintains + validates the sidecar)
        near = (
            minhash_novelty_pairs(
                index,
                s2,
                text_col=text_col,
                id_col=id_col,
                num_hashes=num_hashes,
                bands=bands,
                threshold=jaccard_threshold,
                broadcast_batch=broadcast_batch,
                index_bands=index_bands,
            )
            .select(F.col("batch_id").alias(id_col))
            .distinct()
        )
        s3 = pin_frame(
            s2.join(near, id_col, "left_anti").drop("__h__"),
            materialize,
            scratch_dir,
        )

        # 3b. semantic vs index (optional): PQ-coded SDC novelty — catches
        # paraphrase-grade rewrites MinHash misses; index side map-only.
        # The fit (count, artifact load/staleness, sample collect, numpy
        # fits, artifact save) ran CONCURRENTLY with stages 1-3 on the
        # side-thread launched above — collect it here, its old position.
        if semantic:
            from tmdb_index_spark.operators.ann_store import (
                ann_model_fingerprint,
            )
            from tmdb_index_spark.operators.similarity import (
                pq_novelty_ids,
            )

            n_idx, semantic_assign_impl, cents, books, ann_model = (
                sem_future.result()
            )
            if n_idx > 0:
                bat_emb = embeddings.join(
                    s3.select(F.col(id_col).alias(emb_id_col)), emb_id_col
                )
                # the precomputed index-side (id, cell, codes) sidecar is
                # usable ONLY under the model this batch actually runs —
                # a refit (or any fingerprint drift) silently changes
                # every assignment, so a mismatched sidecar must fall back
                # to the recompute path, never feed wrong candidate cells
                use_codes = None
                if index_codes is not None and index_codes_fit_md5 == (
                    ann_model_fingerprint(cents, books)
                ):
                    use_codes = index_codes  # (emb_id_col, cell, codes)
                sem_dups = pq_novelty_ids(
                    idx_emb,
                    bat_emb,
                    semantic_threshold,
                    cents,
                    books,
                    id_col=emb_id_col,
                    vec_col=emb_vec_col,
                    assign_impl=semantic_assign_impl,
                    index_codes=use_codes,
                ).withColumnRenamed(emb_id_col, id_col)
                kept = pin_frame(
                    s3.join(sem_dups, id_col, "left_anti"),
                    materialize,
                    scratch_dir,
                )
            else:
                kept = s3
        else:
            kept = s3

        # 4. fold the kept docs into the index (reference upsert semantics)
        new_index = update_or_append(
            index.withColumnRenamed(id_col, "id"),
            kept.withColumnRenamed(id_col, "id"),
        ).withColumnRenamed("id", id_col)

        # per-source fate labels -> one yield row per source
        f1 = s1.select(id_col).withColumn("__s1__", F.lit(1))
        f2 = s2.select(id_col).withColumn("__s2__", F.lit(1))
        f3 = s3.select(id_col).withColumn("__s3__", F.lit(1))
        f4 = kept.select(id_col).withColumn("__s4__", F.lit(1))
        lab = (
            b.select(id_col, source_col)
            .join(f1, id_col, "left")
            .join(f2, id_col, "left")
            .join(f3, id_col, "left")
            .join(f4, id_col, "left")
        )
        n = F.count(F.lit(1))
        n_kept = F.sum(F.coalesce(F.col("__s4__"), F.lit(0)))
        aggs = [
            n.cast("long").alias("n_batch"),
            F.sum(F.when(F.col("__s1__").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_exact_batch_dup"),
            F.sum(
                F.when(
                    F.col("__s1__").isNotNull() & F.col("__s2__").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_exact_index_dup"),
            F.sum(
                F.when(
                    F.col("__s2__").isNotNull() & F.col("__s3__").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_near_index_dup"),
        ]
        if semantic:
            aggs.append(
                F.sum(
                    F.when(
                        F.col("__s3__").isNotNull() & F.col("__s4__").isNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_semantic_index_dup")
            )
        aggs += [
            n_kept.cast("long").alias("n_kept"),
            F.round(n_kept.cast("double") / n.cast("double"), 4).alias(
                "kept_rate"
            ),
        ]
        stats = lab.groupBy(source_col).agg(*aggs)
        return {
            "new_index": new_index,
            "kept": kept,
            "stats": stats,
            "ann_model": ann_model,
        }
    finally:
        # normal path: the future was consumed at stage 3b;
        # error path: wait for the in-flight fit so no Spark job
        # outlives the call that launched it
        if sem_pool is not None:
            sem_pool.shutdown(wait=True)


def corpus_pipeline_stats(
    docs: DataFrame,
    embeddings: DataFrame,
    capacity: int = 256,
    shards: int = 8,
    **kwargs,
) -> DataFrame:
    """Per-stage yield report of :func:`prepare_corpus`: one row per
    stage — ``(stage, stage_name, docs_in, docs_out, docs_dropped,
    tokens_out)``, all exact integers. The ``pack`` row reports
    sequences: ``docs_out`` = bins produced (``docs_dropped`` 0 —
    packing drops nothing), ``tokens_out`` unchanged from the sampled
    set."""
    out = prepare_corpus(
        docs, embeddings, capacity=capacity, shards=shards, **kwargs
    )

    # ONE pass for all per-stage counts (round 14): the former
    # spelling aggregated each pinned stage frame in its own subtree
    # and wove docs_in/docs_out with 8 crossJoins — 9 aggregate
    # subtrees the consumer ran as ~50 tiny AQE jobs. The stage frames
    # are already pinned, so unioning (stage_tag, n_tokens) projections
    # of all of them gives every count from one map-side-combined
    # aggregate (guide §2.3 aggregate-before-shuffle; §1.5 per-job
    # overhead) — ≤2 rows per union branch cross the one tiny shuffle.
    # A literal stage spine re-attaches empty stages (a groupBy emits
    # no row for them; the old per-frame aggregate emitted n=0), and
    # docs_in is the previous stage's count via a broadcast self-join
    # on stage-1 — identical integers to the crossJoin weave.
    n_stages = len(out["stages"])
    tagged = None
    for i, (_, frame) in enumerate(out["stages"]):
        part = frame.select(
            F.lit(i).cast("long").alias("__s__"), F.col("n_tokens")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    agg = tagged.groupBy("__s__").agg(
        F.count(F.lit(1)).cast("long").alias("__n__"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("__t__"),
    )
    spine = docs.sparkSession.range(n_stages).select(
        F.col("id").cast("long").alias("__s__")
    )
    counts = spine.join(F.broadcast(agg), "__s__", "left").select(
        "__s__",
        F.coalesce(F.col("__n__"), F.lit(0)).cast("long").alias("__n__"),
        F.coalesce(F.col("__t__"), F.lit(0)).cast("long").alias("__t__"),
    )
    prev = counts.select(
        (F.col("__s__") + 1).alias("__s__"), F.col("__n__").alias("__pn__")
    )
    names = F.array(*[F.lit(s) for s in STAGE_NAMES[:n_stages]])
    docs_in = F.coalesce(F.col("__pn__"), F.col("__n__"))
    main = counts.join(F.broadcast(prev), "__s__", "left").select(
        F.col("__s__").alias("stage"),
        F.element_at(names, (F.col("__s__") + 1).cast("int")).alias(
            "stage_name"
        ),
        docs_in.alias("docs_in"),
        F.col("__n__").alias("docs_out"),
        (docs_in - F.col("__n__")).cast("long").alias("docs_dropped"),
        F.col("__t__").alias("tokens_out"),
    )
    n_seq = out["packed"].agg(
        F.countDistinct(
            F.col("source"), F.col("shard"), F.col("bin")
        ).cast("long").alias("__b__")
    )
    last = counts.filter(F.col("__s__") == n_stages - 1).select(
        "__n__", "__t__"
    )
    pack_row = last.crossJoin(n_seq).select(
        F.lit(n_stages).cast("long").alias("stage"),
        F.lit(STAGE_NAMES[n_stages]).alias("stage_name"),
        F.col("__n__").alias("docs_in"),
        F.col("__b__").alias("docs_out"),
        F.lit(0).cast("long").alias("docs_dropped"),
        F.col("__t__").alias("tokens_out"),
    )
    return main.unionByName(pack_row).orderBy("stage")
