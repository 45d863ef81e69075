"""Training-data preparation operators: decontamination, repetition
quality signals, PII-style redaction, and sequence packing.

These extend the corpus-cleaning surface (`operators/corpus.py`,
`operators/dedup_text.py`) with the remaining steps a large-scale LLM
pretraining pipeline runs between "raw crawl" and "tokenizer input":

* :func:`ngram_contamination` — flag training documents that share any
  word n-gram with a benchmark/eval set (the standard n-gram-overlap
  decontamination from the GPT-3/PaLM appendices). Scale shape: the
  eval side is aggregated to a DISTINCT set of n-gram hashes (eval sets
  are orders of magnitude smaller than the corpus) and **broadcast**;
  the training side explodes per-doc distinct n-grams and semi-joins —
  no shuffle of the big side, map-side hash lookups only. If the eval
  set ever outgrows broadcast range, drop ``broadcast_eval=False`` to
  fall back to a hash-partitioned join on the n-gram hash.
* :func:`repetition_signals` — Gopher-style repetitiousness features
  (duplicate-token fraction, most-common-bigram fraction). The default
  ``impl='expr'`` is pure column expressions over the token array:
  map-only, no explode, no shuffle, whole-stage codegen — but the
  top-bigram search is O(distinct_bigrams × bigrams) per doc, so it
  presumes bounded document length (fine for cleaned web docs, ruinous
  for a single pathological 1M-token row). ``impl='explode'`` is the
  unbounded-doc scale path: explode bigrams → count per (doc, bigram)
  → max per doc — linear per doc, two narrow shuffles, identical
  output (pinned by test).
* :func:`redact_patterns` — regex masking (emails, long digit runs by
  default) with per-doc match counts. One ``regexp_replace`` chain per
  pattern, map-only. Patterns are applied in declaration order; counts
  are taken against the text as each pattern sees it (after prior
  masks), so overlapping patterns never double-count.
* :func:`pack_sequences` — contiguous concat-and-chunk packing: docs
  are laid out in deterministic ``id`` order within a (group, shard)
  stream and a document is assigned to the chunk where its first token
  lands (``floor(exclusive_cumsum / capacity)``). This is the
  window-expressible form of GPT-style "concatenate and split every
  `capacity` tokens"; sharding bounds each window partition so no
  single source becomes a one-task serial scan at 100 TB.

Cross-engine determinism: hashing is the portable md5-derived 60-bit
int (`functions/text.py: portable_hash60`), never ``F.hash``/
``xxhash64``, so the DuckDB oracles reproduce every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tmdb_index_spark.operators.partitioning import widen_small_scan
from tmdb_index_spark.functions.text import (
    portable_hash60,
    token_count,
    tokens,
    word_shingles,
)

__all__ = [
    "ngram_contamination",
    "repetition_signals",
    "redact_patterns",
    "pack_sequences",
    "unigram_logprob",
    "chunk_documents",
    "dup_span_fraction",
    "remove_duplicate_segments",
    "bpe_adjacent_pairs",
    "token_pmi",
    "dsir_logweights",
    "DEFAULT_REDACTIONS",
]


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-train-doc contamination hits against ``eval_df``.

    Returns one row per contaminated training document:
    ``(id_col, ngram_hits)`` where ``ngram_hits`` counts the DISTINCT
    training n-grams of that doc also present anywhere in the eval set.
    Clean documents are absent (left-join + fillna(0) at the call site
    if a dense flag column is wanted).
    """
    def _grams(df: DataFrame, *keep: str) -> DataFrame:
        return widen_small_scan(df).select(
            *keep,
            F.explode(F.array_distinct(word_shingles(text_col, n))).alias("__ng__"),
        ).select(*keep, portable_hash60(F.col("__ng__")).alias("__h__"))

    ev = _grams(eval_df).distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        _grams(train, id_col)
        .join(ev, "__h__")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("ngram_hits"))
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    impl: str = "expr",
) -> DataFrame:
    """Repetition-based quality features per document.

    * ``dup_token_ratio`` — fraction of tokens that are repeats of an
      earlier token: ``(n_tokens - n_distinct) / n_tokens``.
    * ``top_bigram_frac`` — occurrences of the most frequent word
      bigram over total bigrams (0.0 for docs shorter than 2 tokens).

    NULL text is treated as empty (both ratios 0.0) — matching a
    ``coalesce(text, '')`` in any SQL twin — rather than inheriting
    Spark's ``size(NULL) = -1`` arithmetic.

    ``impl='expr'`` (default): pure array expressions, no shuffle, but
    the top-bigram scan is quadratic in per-doc distinct bigrams — use
    only when doc length is bounded (normal cleaned corpora).
    ``impl='explode'``: linear per doc — explode bigrams, count per
    (doc, bigram), take the per-doc max. Two narrow shuffles whose keys
    are (doc, bigram) — high cardinality, skew-free — so it survives
    pathological million-token documents.
    """
    if impl not in ("expr", "explode"):
        raise ValueError(f"impl must be 'expr' or 'explode', got {impl!r}")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    t = tokens(txt)
    bg = word_shingles(txt, 2)
    n_tok = F.size(t)
    dup_ratio = F.round(
        (n_tok - F.size(F.array_distinct(t)))
        * F.lit(1.0)
        / F.greatest(n_tok, F.lit(1)),
        4,
    )
    if impl == "expr":
        top_count = F.array_max(
            F.transform(
                F.array_distinct(bg),
                lambda x: F.size(F.filter(bg, lambda y: y == x)),
            )
        )
        top_frac = F.when(F.size(bg) <= 0, F.lit(0.0)).otherwise(
            F.round(top_count * F.lit(1.0) / F.size(bg), 4)
        )
        return df.select(
            id_col,
            dup_ratio.alias("dup_token_ratio"),
            top_frac.alias("top_bigram_frac"),
        )
    # Scale path: dup_ratio and the bigram count stay map-side columns
    # carried through the explode, so no join back to the source is
    # needed. explode_outer keeps zero-bigram docs alive (NULL group).
    # The scalar columns MUST be a separate projection feeding the
    # explode: selecting them alongside explode() lets Catalyst place
    # the Project AFTER the Generate, re-evaluating the whole
    # tokenize+shingle tree once per exploded row (measured 209 s vs
    # ~3 s at sf0.1). Materializing them as pass-through attributes
    # pins their evaluation before the Generate.
    pre = widen_small_scan(df).select(
        id_col,
        dup_ratio.alias("dup_token_ratio"),
        F.size(bg).alias("__nbg__"),
        bg.alias("__bg__"),
    )
    return (
        pre.select(
            id_col,
            "dup_token_ratio",
            "__nbg__",
            F.explode_outer("__bg__").alias("__b__"),
        )
        .groupBy(id_col, "dup_token_ratio", "__nbg__", "__b__")
        .agg(F.count(F.lit(1)).alias("__c__"))
        .groupBy(id_col, "dup_token_ratio", "__nbg__")
        .agg(F.max("__c__").alias("__top__"))
        .select(
            id_col,
            "dup_token_ratio",
            F.when(F.col("__nbg__") <= 0, F.lit(0.0))
            .otherwise(
                F.round(F.col("__top__") * F.lit(1.0) / F.col("__nbg__"), 4)
            )
            .alias("top_bigram_frac"),
        )
    )


#: Default masking rules, applied in order. Regex subset chosen to mean
#: the same thing in Java (Spark) and RE2 (DuckDB/others).
DEFAULT_REDACTIONS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{4,}", "<NUM>"),
)


def redact_patterns(
    df: DataFrame,
    text_col: str = "text",
    rules: tuple[tuple[str, str], ...] = DEFAULT_REDACTIONS,
    out_col: str = "redacted",
    count_prefix: str = "n_redacted_",
) -> DataFrame:
    """Mask every occurrence of each ``(pattern, replacement)`` rule and
    count matches per rule. Counts index the text *after* earlier rules
    ran, so e.g. digits inside an already-masked email never also count
    as a number hit. Appends ``out_col`` plus one count column per rule.
    NULL text is treated as empty (0 matches, ``''`` output) so counts
    stay non-null and SQL twins agree via ``coalesce(text, '')``.
    """
    cur: Column = F.coalesce(F.col(text_col), F.lit(""))
    counts: list[Column] = []
    for i, (pat, repl) in enumerate(rules):
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
            .cast("long")
            .alias(f"{count_prefix}{i}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return df.select("*", *counts, cur.alias(out_col))


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = "source",
    capacity: int = 256,
    shards: int | None = None,
    cost_col: str | None = None,
) -> DataFrame:
    """Assign each document to a training chunk (concat-and-chunk).

    Documents are ordered by ``id_col`` within ``(group_col, shard)``
    where ``shard = id % shards``; a doc belongs to the chunk containing
    its first token: ``floor(exclusive_running_token_sum / capacity)``.
    Appends ``n_tokens`` (BPE-ish count of ``text_col``, or the
    caller's precomputed ``cost_col`` — e.g. real BPE token counts
    from :func:`bpe_encode`, the tokenize-and-mix composite's path),
    ``shard`` and ``bin``.

    Sharding keeps every window partition ~|group|/shards docs, so the
    sort-within-partition stays parallel at 100 TB; `shards` trades
    packing tightness (cross-shard chunks never merge) for parallelism,
    exactly like per-worker packing in a real tokenizer pipeline.

    ``shards=None`` (default) uses the session's default parallelism —
    on a 1000-executor cluster the window work spreads over every core
    instead of a fixed handful of giant serial sorts, the same
    cluster-tracking rule as ``widen_small_scan``. Because the shard a
    doc lands in changes its bin assignment, callers that need
    cluster-size-independent reproducible packing (the catalog query,
    any regression fixture) must pin ``shards`` explicitly.
    """
    if shards is None:
        shards = max(1, df.sparkSession.sparkContext.defaultParallelism)
    shard = (F.col(id_col) % shards).cast("long")
    parts = ([group_col] if group_col else []) + ["__shard__"]
    w = (
        Window.partitionBy(*parts)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce: size(regexp_extract_all(NULL)) is -1 under Spark's
    # sizeOfNull legacy default, which would corrupt the running sum.
    tok = (
        F.coalesce(F.col(cost_col), F.lit(0)).cast("long")
        if cost_col
        else token_count(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
    )
    out = df.withColumn("__tok__", tok).withColumn("__shard__", shard)
    start = F.sum("__tok__").over(w) - F.col("__tok__")
    return (
        out.withColumn("bin", F.floor(start / capacity).cast("long"))
        .withColumnRenamed("__tok__", "n_tokens")
        .withColumnRenamed("__shard__", "shard")
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 4,
) -> DataFrame:
    """CCNet-style perplexity-proxy quality score: mean negative log10
    unigram probability per document, scored against the corpus's own
    (add-one-smoothed) unigram distribution.

    Real pipelines score against a reference-language model; the
    operator SHAPE is what matters at 100 TB and it is identical: a
    token-frequency table joined back to the exploded corpus. Scale
    path: one explode + two aggregations — the frequency table is
    grouped on the token (high-cardinality, skew bounded by natural
    Zipf, partial aggregation absorbs the head), and the per-doc mean
    re-aggregates on ``id_col``. All arithmetic is double with a final
    round, deterministic in any engine (sum of per-token logs is
    computed as sum/count of the joined rows — no float fold order
    ambiguity because aggregation is commutative to the rounded
    digits).

    Returns ``(id_col, n_tokens, mean_neg_logp)`` — higher means more
    surprising (rarer tokens); boilerplate scores low. Docs with no
    tokens (empty/NULL text) are dropped (no tokens to score).
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = widen_small_scan(df).select(
        id_col, F.explode(tokens(txt)).alias("__tok__")
    ).filter(F.col("__tok__") != "")
    freq = toks.groupBy("__tok__").agg(
        F.count(F.lit(1)).cast("long").alias("__tf__")
    )
    total = freq.agg(
        F.sum("__tf__").alias("__n__"),
        F.count(F.lit(1)).alias("__v__"),
    )
    scored = (
        toks.join(freq, "__tok__")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (
                -F.log10(
                    (F.col("__tf__") + 1).cast("double")
                    / (F.col("__n__") + F.col("__v__")).cast("double")
                )
            ).alias("__nlp__"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("__nlp__"), decimals).alias("mean_neg_logp"),
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 4,
) -> DataFrame:
    """Conditional bigram cross-entropy per document — the next step up
    from :func:`unigram_logprob`'s bag-of-words scoring: mean
    −log2 P(wᵢ | wᵢ₋₁) with P(b|a) = c(a,b) / c(a,·) estimated from the
    corpus's own adjacent-bigram counts (MLE is total: scoring the
    corpus against itself means every scored bigram was counted, so no
    smoothing is needed and the statistic is exact from integer
    counts). Low values = formulaic word-to-word transitions
    (boilerplate, templates); high = unpredictable text.

    Plan shape at 100 TB: ONE bigram Generate (``zip_with`` of the
    token array with its tail — the explode-sibling-safe, linear form;
    see :func:`token_pmi`'s measured note on why not
    element_at-in-lambda), a bigram-vocabulary groupBy (Zipf head
    absorbed by partial aggregation), the first-token totals
    re-aggregated from the ALREADY-AGGREGATED bigram counts (never a
    second corpus pass), and two vocabulary-keyed hash joins back to
    the exploded bigrams. Nothing after the token scan is wider than
    the corpus bigram stream.

    Returns ``(id_col, n_bigrams, mean_neg_log2p)``; documents with
    fewer than two tokens have no bigrams and are dropped.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    t = F.filter(tokens(txt), lambda x: x != F.lit(""))
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(t, 1, n1),
        F.slice(t, 2, n1),
        lambda a, b: F.struct(a.alias("ta"), b.alias("tb")),
    )
    bg = (
        widen_small_scan(df)
        .select(id_col, F.explode(bigrams).alias("__bg__"))
        .select(
            id_col,
            F.col("__bg__.ta").alias("__ta__"),
            F.col("__bg__.tb").alias("__tb__"),
        )
    )
    pc = bg.groupBy("__ta__", "__tb__").agg(
        F.count(F.lit(1)).cast("long").alias("__cab__")
    )
    fc = pc.groupBy("__ta__").agg(F.sum("__cab__").alias("__ca__"))
    scored = (
        bg.join(pc, ["__ta__", "__tb__"])
        .join(fc, "__ta__")
        .select(
            id_col,
            (
                -F.log2(
                    F.col("__cab__").cast("double")
                    / F.col("__ca__").cast("double")
                )
            ).alias("__nlp__"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("__nlp__"), decimals).alias("mean_neg_log2p"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking: split each document's whitespace tokens
    into windows of ``chunk_tokens`` advancing by ``stride`` (overlap =
    ``chunk_tokens - stride``), the standard long-document treatment
    for embedding / context-window-bound training.

    Map-only: chunk starts come from ``sequence()`` over the token
    array, windows from ``slice``, text from ``concat_ws`` — a single
    Generate per doc with per-chunk work proportional to chunk size,
    no shuffle at any corpus size. The final (possibly short) window
    always lands so no suffix is lost; a non-empty document shorter
    than one chunk yields exactly one chunk, and a document with no
    tokens (empty/NULL/whitespace-only text) yields none. Chunks are
    numbered 0.. per doc.

    Returns ``(id_col, chunk_id, n_chunk_tokens, chunk_text)``.
    """
    if chunk_tokens < 1 or stride < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # split('') yields [''] — drop empty tokens so a blank/NULL/all-
    # whitespace document has n = 0 and emits NO chunks (not one
    # phantom chunk of a single empty token).
    t = F.filter(tokens(txt), lambda x: x != F.lit(""))
    n = F.size(t)
    # last start index (1-based): the greatest stride multiple that
    # still begins a non-empty window = floor((n-1)/stride)*stride + 1
    last_start = (
        F.floor((n - 1).cast("double") / stride).cast("int") * stride + 1
    )
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), last_start, F.lit(stride))
    )
    # Two-step projection so the token array materializes BEFORE the
    # Generate: exploding alongside sibling expressions of the same
    # tokenize tree lets Catalyst re-evaluate it once per chunk row
    # (the repetition_signals lesson — see that operator's comment).
    pre = df.select(
        id_col, t.alias("__t__"), starts.alias("__starts__")
    ).select(
        id_col, "__t__", F.explode("__starts__").alias("__start__")
    )
    chunk = F.slice(F.col("__t__"), F.col("__start__"), chunk_tokens)
    return pre.select(
        id_col,
        ((F.col("__start__") - 1) / stride).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def dup_span_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Cross-document duplicated-span quality signal (the Gopher /
    RefinedWeb "fraction of text in duplicated n-grams" filter): for
    each document, the fraction of its DISTINCT word ``n``-gram spans
    that also occur in at least one OTHER document. Complements
    :func:`repetition_signals`, which measures repetition WITHIN a
    document; this measures how much of a document is boilerplate
    shared ACROSS the corpus (nav bars, license headers, templated
    pages score high and get filtered before training).

    Plan shape: the per-doc distinct spans come from the shared
    Arrow-batched shingle stage (`dedup_text._shingle_frame` — hashes
    computed once, 8-byte keys); span multiplicity is a groupBy on the
    span hash (partial-aggregated map-side, so the Zipf head of common
    spans collapses before the shuffle); the join back to spans is on
    the same hash key — two narrow shuffles total, nothing quadratic,
    no all-pairs. Docs shorter than ``n`` tokens have no spans and
    report ``n_spans = 0`` with a NULL fraction (kept via left join —
    a filter deciding their fate belongs to the caller).

    Returns ``(id, n_spans, dup_spans, dup_frac)`` with ``dup_frac``
    rounded to 4 for stable cross-engine compares.
    """
    from tmdb_index_spark.operators.dedup_text import _shingle_frame

    sh = _shingle_frame(df, text_col, id_col, n)
    # #docs containing each span (per-doc distinct ⇒ count == doc count)
    span_df = sh.groupBy("__sh__").agg(F.count(F.lit(1)).alias("__df__"))
    per_doc = (
        sh.join(span_df, "__sh__")
        .groupBy("__id__")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("__df__") >= 2, 1).otherwise(0)).alias(
                "dup_spans"
            ),
        )
    )
    base = df.select(F.col(id_col))
    return (
        base.join(per_doc, base[id_col] == per_doc["__id__"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias(
                "n_spans"
            ),
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("bigint").alias(
                "dup_spans"
            ),
            F.round(
                F.col("dup_spans") / F.col("n_spans").cast("double"), 4
            ).alias("dup_frac"),
        )
    )


def remove_duplicate_segments(
    df: DataFrame,
    seg_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: str = "cache",
    scratch_dir: str | None = None,
) -> DataFrame:
    """Cross-document exact segment dedup with reassembly (the
    *removal* counterpart of :func:`dup_span_fraction`'s signal):
    split each document into consecutive non-overlapping windows of
    ``seg_tokens`` whitespace tokens, keep only the corpus-wide FIRST
    occurrence of each distinct segment text (first = smallest
    ``(doc_id, seg_id)``), and rebuild each document from its kept
    segments in order. This is the C4/RefinedWeb "drop repeated
    spans, keep one copy" cleaning step — templated boilerplate
    (nav bars, license headers) survives exactly once, in the first
    document that used it.

    Plan shape: one Generate per doc (the same two-step projection as
    :func:`chunk_documents` so the tokenize tree materializes before
    the explode), then first-occurrence election as a ``groupBy`` on
    the 60-bit segment hash taking ``MIN(struct(doc_id, seg_id))`` —
    partial-aggregated map-side, so the Zipf head of common segments
    collapses before the shuffle — joined back on the same hash key,
    then one reassembly ``groupBy`` on the doc. Two narrow shuffles +
    one hash join, nothing quadratic, no all-pairs. Determinism:
    segment identity is `portable_hash60` of the segment text, so a
    DuckDB oracle reproduces the kept set bit-for-bit.

    A document whose every segment is a repeat collapses to
    ``text_dedup = ''`` but is KEPT in the output (kept_segments=0);
    documents with no tokens at all produce no segments and are
    dropped (nothing to deduplicate — mirror of chunk_documents).

    The segment frame feeds BOTH sides of the first-occurrence
    join, so it is pinned (``materialize``: 'cache' default,
    'parquet' = the bounded-memory 100 TB path — see
    `operators/materialize.py`) and the tokenize+Generate stage runs
    once, not twice; callers release with ``release_pins``.

    Returns ``(id_col, n_segments, kept_segments, text_dedup)``.
    """
    from tmdb_index_spark.operators.materialize import pin_frame

    if seg_tokens < 1:
        raise ValueError("seg_tokens must be >= 1")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    t = F.filter(tokens(txt), lambda x: x != F.lit(""))
    n = F.size(t)
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), n, F.lit(seg_tokens))
    )
    pre = df.select(
        F.col(id_col), t.alias("__t__"), starts.alias("__starts__")
    ).select(
        id_col, "__t__", F.explode("__starts__").alias("__start__")
    )
    seg = pre.select(
        F.col(id_col),
        ((F.col("__start__") - 1) / seg_tokens).cast("long").alias(
            "__seg__"
        ),
        F.concat_ws(" ", F.slice(F.col("__t__"), F.col("__start__"), seg_tokens)).alias(
            "__text__"
        ),
    ).withColumn("__h__", portable_hash60(F.col("__text__")))
    seg = pin_frame(seg, materialize, scratch_dir)
    first = seg.groupBy("__h__").agg(
        F.min(F.struct(F.col(id_col), F.col("__seg__"))).alias("__first__")
    )
    kept = seg.join(first, "__h__").withColumn(
        "__kept__",
        (F.col("__first__")[id_col] == F.col(id_col))
        & (F.col("__first__")["__seg__"] == F.col("__seg__")),
    )
    arr = F.array_sort(
        F.collect_list(F.struct("__seg__", "__kept__", "__text__"))
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.col("__kept__").cast("int")).cast("bigint").alias(
            "kept_segments"
        ),
        F.array_join(
            F.transform(
                F.filter(arr, lambda x: x["__kept__"]),
                lambda x: x["__text__"],
            ),
            " ",
        ).alias("text_dedup"),
    )


def duplicated_span_ranges(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    unit: str = "token",
) -> DataFrame:
    """MAXIMAL duplicated-substring spans per document — the
    ExactSubstr shape of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499): a position is
    duplicated iff the ``k``-token window starting there occurs at
    least ``min_count`` times anywhere in the corpus (another doc OR
    another position of the same doc — the paper's definition), and
    overlapping/adjacent duplicated windows merge into one maximal
    span, the contiguous range an ExactSubstr cleaner would actually
    cut. This is the positional complement of
    :func:`dup_span_fraction` (a per-doc scalar signal over DISTINCT
    spans) and :func:`remove_duplicate_segments` (fixed
    non-overlapping segments): here the output is the merged
    ``[start, end)`` token ranges themselves.

    Plan shape: positional ``k``-grams are one Generate per doc
    (n - k + 1 rows, each an O(k) hash of the window — linear in
    corpus tokens); occurrence counts are a ``groupBy`` on the 60-bit
    hash (partial-aggregated map-side, the Zipf head collapses before
    the shuffle); the join back is on the same hash key; interval
    merging is the gaps-and-islands window — running
    ``max(pos + k)`` over earlier rows, island break where the
    current window starts past it — PARTITIONED BY DOC, so the frame
    is bounded by document length, never corpus length. Two narrow
    shuffles + one per-doc window; nothing quadratic. Tokens are
    whitespace tokens (``split(trim(text))``) and window identity is
    ``portable_hash60`` of the space-joined window, so a DuckDB
    oracle reproduces the span set bit-for-bit.

    ``unit`` picks the window granularity.  The default ``"token"``
    hashes whitespace-token ``k``-grams — a documented delta from Lee
    et al.'s byte-level suffix-array semantics: duplication INSIDE a
    word or spanning punctuation is invisible to it.  ``unit="char"``
    closes that gap: windows are raw ``k``-character substrings of the
    untrimmed text (positions = 0-based char offsets), so an id, URL,
    or code fragment duplicated mid-token is caught at any alignment.
    Same hash / count / island machinery; the cost delta is rows per
    doc — one per character instead of one per token (~5× at English
    word lengths), still linear, still Zipf-head partial-aggregated
    before the shuffle.

    Returns one row per maximal span: ``(id_col, span_start,
    span_end, span_tokens)`` with 0-based positions (tokens or chars
    per ``unit``) and ``end`` exclusive. Docs with fewer than ``k``
    units (or none duplicated) emit no rows — the per-doc rollup with
    kept zero-rows belongs to the caller (see the
    ``exact_substr_spans`` / ``exact_substr_char_spans`` catalog
    queries).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    if unit not in ("token", "char"):
        raise ValueError(f"unit must be 'token' or 'char', got {unit!r}")
    if unit == "char":
        s = F.coalesce(F.col(text_col), F.lit(""))
        n = F.length(s)
        grams = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: portable_hash60(s.substr(i + F.lit(1), F.lit(k))),
            ),
        ).otherwise(F.array().cast("array<long>"))
    else:
        txt = F.trim(F.coalesce(F.col(text_col), F.lit("")))
        t = F.when(txt == "", F.array().cast("array<string>")).otherwise(
            F.split(txt, r"\s+")
        )
        n = F.size(t)
        grams = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: portable_hash60(
                    F.concat_ws(" ", F.slice(t, i + 1, k))
                ),
            ),
        ).otherwise(F.array().cast("array<long>"))
    # widen first: the positional-gram Generate is one portable md5 per
    # window — the same per-row cost profile as the shingle stage — and
    # a single-row-group corpus would otherwise hash every position of
    # the whole corpus in ONE scan task (measured: the sf0.1 char-span
    # query ran its Generate stages 1-task wide). No-op at production
    # scan widths (operators/partitioning.py).
    pos = widen_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col), F.posexplode(grams).alias("__pos__", "__h__")
    )
    cnt = pos.groupBy("__h__").agg(F.count(F.lit(1)).alias("__c__"))
    dup = (
        pos.join(cnt, "__h__")
        .filter(F.col("__c__") >= min_count)
        .select(id_col, "__pos__")
    )
    w = Window.partitionBy(id_col).orderBy("__pos__")
    prev_end = F.max(F.col("__pos__") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "__brk__",
        F.when(
            prev_end.isNull() | (F.col("__pos__") > prev_end), 1
        ).otherwise(0),
    ).withColumn(
        "__g__",
        F.sum("__brk__").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return marked.groupBy(id_col, "__g__").agg(
        F.min("__pos__").cast("long").alias("span_start"),
        (F.max("__pos__") + k).cast("long").alias("span_end"),
        (F.max("__pos__") + k - F.min("__pos__"))
        .cast("long")
        .alias("span_tokens"),
    ).drop("__g__")


def remove_duplicated_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """The REMOVAL counterpart of :func:`duplicated_span_ranges` — the
    ExactSubstr cleaning step itself (Lee et al. 2022): every
    duplicated ``k``-token window is cut from the corpus EXCEPT its
    corpus-wide first occurrence (smallest ``(doc_id, pos)`` — the
    same election as :func:`remove_duplicate_segments`, so exactly one
    copy of every duplicated string survives, in the first document
    that used it), and each document is rebuilt from its surviving
    tokens in order. Windows are overlapping (unlike the fixed
    segments), so this cuts duplication at ANY alignment, the reason
    the paper's tool beats segment-level dedup.

    A token is removed iff some CUT window covers it; tokens under a
    kept-first window that no cut window covers survive. First
    occurrence is elected on the packed key ``doc_id·2²⁰ + pos`` (one
    exact BIGINT ``MIN`` per gram hash — engine-portable where a
    struct-min is not), so documents must stay under 2²⁰ tokens —
    raised loudly, not clamped.

    Plan shape (round-14 rewrite): positional grams and the per-hash
    election are the :func:`duplicated_span_ranges` shuffles; cut
    POSITIONS then merge into maximal ``[start, end)`` ranges with the
    same per-doc gaps-and-islands window (bounded by document length),
    and each document is rebuilt by SLICING its token array around the
    collected ranges — pure column expressions, no per-covered-token
    explode, no ``distinct`` over k·cuts rows, no token-level
    anti-join, no ``collect_list`` of tokens.  The pre-rewrite shape
    (cut windows → ≤ k covered-index rows each → distinct → anti-join
    an all-tokens explode → per-doc collect) was the measured +7.6×
    over span extraction at the 100× stress tier.  Documents with no
    tokens produce no rows (mirror of :func:`remove_duplicate_segments`).

    Returns ``(id_col, n_tokens, n_cut_tokens, text_clean)``.
    """
    from pyspark.sql import Window
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    txt = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    t = F.when(txt == "", F.array().cast("array<string>")).otherwise(
        F.split(txt, r"\s+")
    )
    n = F.size(t)
    # the bound checks ride INSIDE the consumed column (a dropped
    # assert-only column would be pruned before it ever evaluated):
    # assert_true yields NULL when the bound holds, raises otherwise.
    # Both packed-key preconditions are guarded: token count <= 2^20
    # AND doc_id non-null and >= 0 — a negative id breaks the
    # smallest-(doc,pos) ordering and a null id (e.g. a non-numeric id
    # column silently cast) would yield NULL keys and silently wrong
    # cuts instead of this loud failure.
    id_ok = F.col(id_col).try_cast("long").isNotNull() & (
        F.col(id_col).try_cast("long") >= 0
    )
    n_checked = F.when(
        F.assert_true(
            (n <= F.lit(1 << 20)) & id_ok,
            F.concat(
                F.lit(
                    "remove_duplicated_spans: requires doc token count"
                    " <= 2^20 and a non-null, non-negative numeric"
                    f" {id_col} — the packed (doc_id, pos) election key"
                    " would collide or misorder (doc_id="
                ),
                F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                F.lit(", n_tokens="),
                n.cast("string"),
                F.lit(")"),
            ),
        ).isNull(),
        n,
    )
    # widen before the tokenize + per-window hash work (same
    # single-row-group rationale as duplicated_span_ranges above); base
    # feeds both the gram Generate and the final rebuild join.
    base = widen_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col), t.alias("__t__"), n_checked.alias("__n__")
    )
    grams = F.when(
        F.col("__n__") >= k,
        F.transform(
            F.sequence(F.lit(0), F.col("__n__") - k),
            lambda i: portable_hash60(
                F.concat_ws(" ", F.slice(F.col("__t__"), i + 1, k))
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    pos = base.select(
        F.col(id_col), F.posexplode(grams).alias("__pos__", "__h__")
    ).withColumn(
        "__key__", F.col(id_col) * F.lit(1 << 20) + F.col("__pos__")
    )
    agg = pos.groupBy("__h__").agg(
        F.count(F.lit(1)).alias("__c__"),
        F.min("__key__").alias("__first__"),
    )
    cutpos = (
        pos.join(agg, "__h__")
        .filter(
            (F.col("__c__") >= min_count)
            & (F.col("__key__") != F.col("__first__"))
        )
        .select(id_col, "__pos__")
    )
    # merge overlapping/adjacent cut windows into maximal [start, end)
    # ranges — the duplicated_span_ranges island window, per-doc frame
    w = Window.partitionBy(id_col).orderBy("__pos__")
    prev_end = F.max(F.col("__pos__") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    ranges = (
        cutpos.withColumn(
            "__brk__",
            F.when(
                prev_end.isNull() | (F.col("__pos__") > prev_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "__g__",
            F.sum("__brk__").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "__g__")
        .agg(
            F.min("__pos__").alias("__s__"),
            (F.max("__pos__") + k).alias("__e__"),
        )
    )
    rlist = ranges.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("__s__", "__e__"))).alias(
            "__rs__"
        )
    )
    # rebuild by slicing AROUND the (disjoint, sorted) cut ranges: keep
    # intervals are [0, s1), [e1, s2), ..., [e_last, n) — zip their
    # bounds and concatenate the token slices.  A doc with no cut rows
    # keeps everything; a fully-cut doc keeps '' (the
    # remove_duplicate_segments convention), hence the left join.
    rs = F.coalesce(
        F.col("__rs__"),
        F.array().cast("array<struct<__s__:int,__e__:int>>"),
    )
    starts = F.concat(
        F.array(F.lit(0)), F.transform(rs, lambda x: x["__e__"])
    )
    ends = F.concat(
        F.transform(rs, lambda x: x["__s__"]), F.array(F.col("__n__"))
    )
    kept_toks = F.flatten(
        F.zip_with(
            starts, ends, lambda s, e: F.slice(F.col("__t__"), s + 1, e - s)
        )
    )
    n_cut = F.aggregate(
        rs,
        F.lit(0),
        lambda acc, x: acc + (x["__e__"] - x["__s__"]),
    )
    return (
        base.filter(F.col("__n__") > 0)
        .join(rlist, id_col, "left")
        .select(
            id_col,
            F.col("__n__").cast("long").alias("n_tokens"),
            n_cut.cast("long").alias("n_cut_tokens"),
            F.array_join(kept_toks, " ").alias("text_clean"),
        )
    )


def bpe_adjacent_pairs(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Adjacent character-pair frequencies over whitespace words — one
    iteration of BPE vocabulary induction (the pair a merge step would
    fuse is the argmax of exactly this table). Counts are per
    OCCURRENCE (every word instance contributes all its adjacent
    pairs), matching the classic Sennrich et al. counting.

    Plan shape: pairs are built per document as one nested
    ``transform`` over the token array and flattened BEFORE the single
    explode — no per-word row blow-up, one Generate per doc — then a
    ``groupBy`` on the pair whose cardinality is bounded by the
    character-bigram alphabet (tiny), so map-side partial aggregation
    collapses the token-scale stream to almost nothing before the one
    shuffle. The final top-k is a ``TakeOrderedAndProject`` under the
    total order (count desc, pair asc) — deterministic across engines.

    Returns ``(pair, n_pairs)``, the ``top_k`` most frequent.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    t = F.filter(tokens(txt), lambda x: x != F.lit(""))
    # sequence(1, 0) DESCENDS, so 1-char words need the empty branch
    pairs = F.flatten(
        F.transform(
            t,
            lambda w: F.when(
                F.length(w) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length(w) - 1),
                    lambda i: w.substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        df.select(pairs.alias("__pairs__"))
        .select(F.explode("__pairs__").alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def token_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Pointwise mutual information of adjacent token bigrams — the
    collocation / phrase-mining statistic (Church & Hanks 1990; the
    word2vec-era PPMI matrix builds from exactly these counts):

        pmi(a, b) = log2( p(a,b) / (p(a) · p(b)) )

    with p(a,b) from bigram counts over total bigrams and p(·) from
    unigram counts over total tokens. High-PMI pairs are phrases
    ("new york"); ``min_count`` suppresses the classic PMI artifact
    of rare pairs scoring spuriously high.

    Plan shape: one Generate for bigrams and one for unigrams (both
    built as per-doc arrays first — the explode-sibling rule; the
    bigram array is ``zip_with(tokens, tail(tokens))``, NOT
    ``transform(sequence, i -> element_at(t, i))``: element_at inside
    a lambda evaluates O(|t|) per position in Catalyst's generated
    code, turning per-doc work quadratic — measured 7.3 s vs 0.9 s on
    the sf0.1 corpus), each
    feeding a partial-aggregated groupBy whose cardinality is the
    (tiny) vocabulary / seen-bigram set; the two corpus totals are
    1-row aggregates OVER THE AGGREGATED frames, broadcast back; the
    unigram probabilities attach through two vocabulary-sized hash
    joins. Nothing after the token scans is proportional to N. The
    final top-k is total-ordered (pmi desc, pair asc) — pmi values
    derive from identical integer counts on every engine, so the
    order is reproducible.

    Returns ``(tok_a, tok_b, n_pair, pmi)``, top ``top_k`` by PMI.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    t = F.filter(tokens(txt), lambda x: x != F.lit(""))
    df = widen_small_scan(df)
    uni = (
        df.select(t.alias("__t__"))
        .select(F.explode("__t__").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__cu__"))
    )
    n_tok = uni.agg(F.sum("__cu__").cast("double").alias("__ntok__"))
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(t, 1, n1),
        F.slice(t, 2, n1),
        lambda a, b: F.struct(a.alias("tok_a"), b.alias("tok_b")),
    )
    pair = (
        df.select(bigrams.alias("__bg__"))
        .select(F.explode("__bg__").alias("bg"))
        .select("bg.tok_a", "bg.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
    )
    n_pair_tot = pair.agg(F.sum("n_pair").cast("double").alias("__npair__"))
    ua = uni.select(
        F.col("tok").alias("tok_a"), F.col("__cu__").alias("__ca__")
    )
    ub = uni.select(
        F.col("tok").alias("tok_b"), F.col("__cu__").alias("__cb__")
    )
    scored = (
        pair.filter(F.col("n_pair") >= min_count)
        .join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(n_pair_tot))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "tok_a",
            "tok_b",
            "n_pair",
            F.round(
                F.log2(
                    (F.col("n_pair") / F.col("__npair__"))
                    / (
                        (F.col("__ca__") / F.col("__ntok__"))
                        * (F.col("__cb__") / F.col("__ntok__"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("tok_a").asc(), F.col("tok_b").asc()
    ).limit(top_k)

def dsir_logweights(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
) -> DataFrame:
    """DSIR hashed n-gram importance log-weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").

    The data-selection step a pretraining pipeline runs to up-weight
    corpus documents that *look like* a small trusted target domain:
    featurize every document as a bag of hashed word unigrams+bigrams
    over ``n_buckets`` buckets, fit two smoothed categorical
    distributions — the target subset's (rows where ``is_target``) and
    the full corpus's — and score each document by its log importance
    weight ``sum_g log(p_target(b(g)) / p_raw(b(g)))`` over its n-gram
    occurrences. Resampling keeps the highest-weight documents; this
    operator returns the weights and leaves the keep-policy (top-k,
    threshold, Gumbel-noise resample) to the caller.

    Cross-engine determinism: bucket log-ratios are quantized to
    integer nanos (``CAST(ROUND(logw * 1e9) AS BIGINT)``) before the
    per-document sum, so the reduction is exact integer arithmetic —
    no float-sum ordering drift between Spark and an oracle engine.
    Returned ``logw_q`` is that integer (divide by 1e9 for the float
    weight). Documents whose text yields zero n-grams are absent
    (left-join + ``COALESCE 0`` at the call site for a dense column).

    Scale shape (100 TB): one heavy shuffle — the per-(doc, bucket)
    occurrence count, map-side-combinable and keyed by a high-card
    compound key, so no skew hotspot. Both distributions are derived
    FROM that aggregated frame (n_docs x <=n_buckets rows, NOT the raw
    n-gram explosion), its Exchange is reused across the two subtrees
    (ReusedExchange — asserted by plan test), and the fitted
    ``n_buckets``-row weight table joins back via **broadcast**.
    Nothing after the token scan is proportional to corpus size except
    the one combinable shuffle. Hashing is the portable md5-derived
    60-bit int, never ``F.hash`` (oracle parity).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.regexp_extract_all(F.lower(txt), F.lit("[a-z0-9]+"), 0)
    # sequence(1, 0) DESCENDS in Spark instead of being empty (the
    # word_shingles lesson) — short docs need the explicit empty branch.
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = widen_small_scan(docs).select(
        F.col(id_col),
        is_target.alias("__tgt__"),
        F.explode(F.concat(toks, bigrams)).alias("__g__"),
    )
    # THE one data-proportional shuffle: per-(doc, bucket) counts.
    db = (
        grams.select(
            id_col,
            "__tgt__",
            F.pmod(portable_hash60(F.col("__g__")), F.lit(n_buckets)).alias(
                "__b__"
            ),
        )
        .groupBy(id_col, "__tgt__", "__b__")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n__"))
    )
    spark = docs.sparkSession
    buckets = spark.range(n_buckets).select(F.col("id").alias("__b__"))
    counts = db.groupBy("__b__").agg(
        F.sum("__n__").alias("__cr__"),
        F.sum(F.when(F.col("__tgt__"), F.col("__n__")).otherwise(F.lit(0))).alias(
            "__ct__"
        ),
    )
    dist = buckets.join(counts, "__b__", "left").select(
        "__b__",
        F.coalesce("__cr__", F.lit(0)).alias("__cr__"),
        F.coalesce("__ct__", F.lit(0)).alias("__ct__"),
    )
    tot = dist.agg(
        F.sum("__cr__").alias("__tr__"), F.sum("__ct__").alias("__tt__")
    )
    smooth = F.lit(float(n_buckets))
    logw = F.log(
        (F.col("__ct__") + F.lit(1)).cast("double")
        / (F.col("__tt__").cast("double") + smooth)
    ) - F.log(
        (F.col("__cr__") + F.lit(1)).cast("double")
        / (F.col("__tr__").cast("double") + smooth)
    )
    w = dist.crossJoin(F.broadcast(tot)).select(
        "__b__",
        F.round(logw * F.lit(1e9)).cast("bigint").alias("__lwq__"),
    )
    return (
        db.join(F.broadcast(w), "__b__")
        .groupBy(id_col)
        .agg(F.sum(F.col("__n__") * F.col("__lwq__")).alias("logw_q"))
    )


#: :func:`bpe_train_merges` cuts its vocab frame's lineage with a
#: checkpoint pin every this many rounds, so the chained ``replace``
#: work re-run per round stays bounded (O(k) in total, not O(k²)).
BPE_REPIN_ROUNDS = 32


def bpe_train_merges(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """``k`` rounds of BPE vocabulary induction (Sennrich et al. 2016)
    over the corpus — the usable small-vocab trainer grown from the
    one-iteration :func:`bpe_adjacent_pairs` exhibit. Each round
    counts adjacent symbol pairs over word TYPES weighted by corpus
    frequency, fuses the argmax pair (count desc, pair asc — a total
    order) everywhere, and repeats on the merged symbols. (No
    end-of-word marker — the classroom formulation; add one upstream
    by appending a sentinel char to each word if needed.)

    Engine-portable merge trick: a word's symbol sequence is one
    STRING with every symbol WRAPPED in an out-of-alphabet marker
    (chr(31)) on BOTH sides: ``abc`` → ``\\x1fa\\x1f\\x1fb\\x1f
    \\x1fc\\x1f``. Fusing pair (a, b) is then plain ``replace(s,
    '\\x1fa\\x1f\\x1fb\\x1f', '\\x1fab\\x1f')`` — and ``replace``
    scans left-to-right replacing non-overlapping occurrences in BOTH
    Spark (java.lang.String.replace) and ANSI SQL engines, which is
    exactly BPE's greedy merge rule (``aaaa`` with merge (a,a) →
    ``aa aa``, not three overlapping merges). The CLOSING marker is
    what makes the pattern symbol-exact: a prefix-only encoding
    (``\\x1fa\\x1fb``) matches wherever the right symbol is a PREFIX
    of the actual symbol — merging ``(x, t)`` inside a word holding
    ``[x, th]`` would fuse across the boundary and corrupt every later
    round (the round-10 advisor found this live). With both sides
    delimited, ``\\x1fx\\x1f\\x1ft\\x1f`` cannot match
    ``\\x1fx\\x1f\\x1fth\\x1f``. No per-symbol array surgery, no UDF.

    Scale shape: the k rounds iterate over the WORD-TYPE frame (vocab-
    bounded — Heaps' law, not corpus-bounded; the one corpus-scale
    scan is the initial word count, a partial-aggregated groupBy).
    Per round: one map-only pair explode over the vocab frame + one
    pair-keyed partial-agg + a 1-row argmax under ``bounded_collect``
    — the bounded-math convention (driver holds one (pair, count) row
    per round; an external SQL twin chains the same rounds as CTEs
    with scalar subqueries). Returns one row per executed merge:
    ``(step, left_sym, right_sym, merged, n_pairs)``; stops early if
    the corpus runs out of pairs before ``k``.
    """
    from tmdb_index_spark.operators.materialize import bounded_collect

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = df.sparkSession
    sep = "\x1f"
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = (
        df.select(
            F.explode(
                F.filter(tokens(txt), lambda x: x != F.lit(""))
            ).alias("__w__")
        )
        .groupBy("__w__")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__wf__"))
        .select(
            F.regexp_replace(
                F.col("__w__"), "(.)", sep + "$1" + sep
            ).alias("__s__"),
            "__wf__",
        )
    )
    from tmdb_index_spark.operators.materialize import pin_frame

    # ONE pin: the corpus-scale word-count aggregate. The per-ROUND
    # checkpoint pins were removed in round 15: a round's state is the
    # base vocab frame under i chained `replace` projections — plan
    # depth LINEAR in rounds (one narrow Project each, no joins), so
    # the k^n growth pin_frame guards against never arises. Round i's
    # argmax re-runs the i-1 earlier replaces as map work over the
    # PINNED vocab rows — measured FLAT per round (~0.17 s each, rounds
    # 1 through 8 alike at sf0.1: the argmax job's fixed cost dominates
    # the chained cheap string scans). Paired in-process profile:
    # loop 2.04 → 1.70 s warm (query 3.74 → 3.09), and k-1 checkpointed
    # copies of the vocab frame no longer occupy executor storage
    # (guide §5) — the pins were lazy (eager=False) so job counts are
    # unchanged; the savings are the pin calls and the block storage.
    # Per-round CACHE pins were already measured worse in round 14
    # (5.0 → 7.2 s — InMemoryRelation build cost); this removes the
    # per-round materialization instead of re-homing it. Past
    # BPE_REPIN_ROUNDS rounds the re-run replaces would add up to
    # O(k²) work, so the chain is re-pinned every that many rounds.
    cur = pin_frame(words, "checkpoint")
    merges: list[tuple] = []
    # split on the marker yields empties between/around the wrapped
    # symbols ("", a, "", b, "") — symbols themselves are never empty
    # (words are non-empty, merges concatenate), so filtering empties
    # recovers exactly the symbol sequence
    syms = F.filter(F.split(F.col("__s__"), sep), lambda x: x != F.lit(""))
    for step in range(1, k + 1):
        # zip_with PADS the shorter side with NULLs (it does not
        # truncate), so the last zip slot concats to NULL — compact it
        # out or the NULL "pair" aggregates into a bogus argmax row
        pair_col = F.array_compact(
            F.zip_with(
                syms,
                F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
                lambda x, y: F.concat(x, F.lit(sep), y),
            )
        )
        counts = (
            cur.select(F.explode(pair_col).alias("__p__"), "__wf__")
            .groupBy("__p__")
            .agg(F.sum("__wf__").cast("bigint").alias("__c__"))
            .orderBy(F.col("__c__").desc(), F.col("__p__").asc())
            .limit(1)
        )
        top = bounded_collect(counts, 1, f"BPE merge round {step} argmax")
        if not top:
            break  # corpus out of pairs before k merges
        pr, c = top[0][0], int(top[0][1])
        left, right = pr.split(sep)
        merges.append((step, left, right, left + right, c))
        cur = cur.select(
            F.replace(
                F.col("__s__"),
                F.lit(sep + left + sep + sep + right + sep),
                F.lit(sep + left + right + sep),
            ).alias("__s__"),
            "__wf__",
        )
        if step % BPE_REPIN_ROUNDS == 0:
            cur = pin_frame(cur, "checkpoint")
    return spark.createDataFrame(
        merges,
        "step bigint, left_sym string, right_sym string, "
        "merged string, n_pairs bigint",
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge table, in merge order, to the corpus —
    the ENCODE half of the tokenizer loop (:func:`bpe_train_merges`
    trains; this consumes the artifact, the reference's build-then-
    query pattern, ``README.md:6-12``). ``merges`` is the ordered
    ``[(left_sym, right_sym)]`` list (collect the trainer's tiny
    k-row output with ``bounded_collect``). Adds ``out_col``: the
    document's BPE token array, whitespace-word internal (merges never
    cross word boundaries, matching the trainer's word-type counting).

    Map-only, no UDF, no shuffle: each word is marker-wrapped exactly
    as in training (``abc`` → ``\\x1fa\\x1f\\x1fb\\x1f\\x1fc\\x1f``),
    words re-join on a single space (no merge pattern contains a space
    or single-marker run, so patterns cannot straddle words), and the
    ``k`` merges apply as ``k`` chained literal ``replace`` column
    expressions — the same greedy left-to-right non-overlapping
    scan the trainer used, so encode(train corpus) reproduces the
    trainer's final symbol state exactly. Θ(corpus · k) flat work;
    an external SQL engine reproduces the tokens verbatim from the
    same replace chain.
    """
    sep = "\x1f"
    for left, right in merges:
        if not left or not right or sep in left + right or " " in left + right:
            raise ValueError(
                f"invalid merge pair ({left!r}, {right!r}): symbols must "
                "be non-empty and contain neither the marker nor a space"
            )
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(tokens(txt), lambda x: x != F.lit(""))
    doc = F.array_join(
        F.transform(
            words,
            lambda w: F.regexp_replace(w, "(.)", sep + "$1" + sep),
        ),
        " ",
    )
    for left, right in merges:
        doc = F.replace(
            doc,
            F.lit(sep + left + sep + sep + right + sep),
            F.lit(sep + left + right + sep),
        )
    toks = F.filter(
        F.split(doc, sep),
        lambda x: (x != F.lit("")) & (x != F.lit(" ")),
    )
    return df.withColumn(out_col, toks)
