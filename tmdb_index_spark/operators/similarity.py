"""Embedding similarity search: exact, LSH, IVF, two-level IVF and IVF-PQ.

Over an ``embeddings(vec_id, embedding array<float>, label)`` table,
every ANN entry point is one point of a small design space:

* **coarse quantizer** — the cells candidates are drawn from: none
  (:func:`brute_force_topk`, :func:`cosine_neardup_pairs` exact),
  sign-bit hyperplane buckets (:func:`signbit_buckets`: ``lsh_*``,
  :func:`neardup_index_pairs`), flat k-means cells (:func:`ivf_assign`:
  ``ivf_*``, ``ivfpq_*``, ``semantic_*``) or two-level k-means cells
  (:func:`two_level_ivf_assign`: ``ivf2_*``);
* **payload** — what a candidate carries into scoring: the raw vector
  (cosine) or a PQ code word (:func:`pq_encode`: ADC cosine in
  ``ivfpq_*``, SDC cosine in :func:`semantic_elect_codes` and
  :func:`pq_novelty_ids`);
* **nprobe** — the cells a query searches: its own (a per-cell
  self-join) or its ``nprobe`` nearest (query-side multi-probe; corpus
  membership stays single-cell, so no neighbor is scored twice).

Every top-k path ranks under ONE contract: similarities rounded to 4
decimals first (absorbing BLAS-vs-fold ULP drift), then sim
descending, neighbor id ascending, self excluded. It lives in three
shared kernels:

* **cell assignment** — :func:`_probe_assign_pandas` (one BLAS matmul
  per Arrow batch; ``nprobe=1`` is the home cell) and
  :func:`_expr_assign` (exploded exact sequential-fold distances a SQL
  oracle reproduces bit-for-bit; ``min_by`` home cell or ``row_number``
  probes). :func:`ivf_assign`, :func:`ivf_probe_assign` and both stages
  of :func:`ivf2_probe_assign` route through them.
* **block ranking** — :func:`_block_topk`, one numpy kernel over a
  (queries × candidates) similarity block. :func:`_cell_topk` runs it
  per cell (``groupBy(cell).applyInPandas``: single-probe pandas
  ``lsh_topk``, ``ivf_topk``, ``ivf2_index_topk``, ``ivfpq_topk``) and
  :func:`_probe_topk` per cogrouped (probing queries × cell members)
  block, finished by the per-query window (every ``nprobe > 1`` pandas
  path). Raw payloads score BLAS cosine; PQ payloads score the ADC
  lookup.
* **expression scoring** — :func:`_side` projections joined and scored
  by :func:`_pair_cosine`, cut by :func:`_rank_cut`'s ``row_number``:
  the engine-portable twins :func:`brute_force_topk`, :func:`lsh_topk`,
  :func:`ivf_topk` (``impl='expr'``) and :func:`lsh_knn_join`, and the
  ``id_a < id_b`` pair forms of :func:`cosine_neardup_pairs` and
  :func:`semantic_elect` (:func:`_expr_pairs`).

The fitted models (k-means cells, two-level quantizer, PCA, PQ
codebooks) all fit on one bounded deterministic sample
(:func:`_fit_sample`), so oracle builders reproduce every fit from the
same parquet rows.

At 100 TB: brute force is a broadcast-nested-loop — fine for ad-hoc
queries, wrong as a join. The LSH/IVF paths shuffle on the bucket/cell
key and are skew-safe for roughly-isotropic embeddings; the
self-tuning ``*_index_topk`` wrappers size bits or cells from N.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tmdb_index_spark.operators.materialize import bounded_collect
from tmdb_index_spark.operators.partitioning import (
    metadata_scan_rowcount,
    widen_small_scan,
)

__all__ = [
    "cosine",
    "brute_force_topk",
    "signbit_buckets",
    "lsh_topk",
    "lsh_index_topk",
    "lsh_knn_join",
    "ivf_assign",
    "ivf_topk",
    "ivf_index_topk",
    "fit_centroids",
    "fit_kmeans_array",
    "fit_two_level_centroids",
    "two_level_from_sample",
    "two_level_ivf_assign",
    "ivf2_index_topk",
    "ivf2_probe_assign",
    "label_centroid_cosine",
    "cosine_neardup_pairs",
    "neardup_index_pairs",
    "semantic_dedup",
    "semantic_dedup_with_centroids",
    "fit_pca_array",
    "fit_pca",
    "pca_projection_sql",
    "fit_pq_array",
    "pq_encode",
    "pq_code_rows",
    "pq_novelty_ids",
    "ivfpq_topk",
    "ivfpq_index_topk",
    "mmr_rerank",
]


def _corpus_rowcount(corpus: DataFrame, n_estimate: int | None) -> int:
    """N for sizing rules: the caller's estimate when given, else the
    EXACT footer count when the corpus is a bare parquet scan
    (metadata only — no job at operator build), else one count job.
    All three answers are exact at the certified scales, so tuned
    parameters (cells, bits, sample gates) are identical whichever
    path supplies N."""
    if n_estimate is not None:
        return n_estimate
    n = metadata_scan_rowcount(corpus)
    return n if n is not None else corpus.count()


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column, decimals: int = 4) -> Column:
    """Cosine similarity of two double arrays, rounded for stable
    cross-engine comparison. NULL when either vector has zero norm
    (0/0 is undefined; under Spark's ANSI mode an unguarded divide
    would raise DIVIDE_BY_ZERO instead of returning NULL/NaN)."""
    denom = _norm(a) * _norm(b)
    return F.round(
        F.when(denom != F.lit(0.0), _dot(a, b) / denom), decimals
    )


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def _side(
    df: DataFrame, id_col: str, vec_col: str, id_name: str, tag: str, *keys
) -> DataFrame:
    """One side of an expression scorer: the id as ``id_name``, the
    vector as ``array<double>`` and its norm as ``__{tag}v__`` /
    ``__{tag}n__``, plus the join ``keys``. Norms are computed once
    per vector (map stage) — computing them per PAIR doubles the
    interpreted fold work inside the join."""
    v = _as_double(vec_col)
    return df.select(
        F.col(id_col).alias(id_name),
        v.alias(f"__{tag}v__"),
        _norm(v).alias(f"__{tag}n__"),
        *keys,
    )


def _pair_cosine(a: str, b: str) -> Column:
    """Rounded cosine of two joined :func:`_side` projections tagged
    ``a`` and ``b`` — the fold twin of :func:`_block_sims`."""
    return F.round(
        _dot(F.col(f"__{a}v__"), F.col(f"__{b}v__"))
        / (F.col(f"__{a}n__") * F.col(f"__{b}n__")),
        4,
    )


def _rank_cut(scored: DataFrame, k: int, sim_col: str = "cos_sim") -> DataFrame:
    """Per-query top-``k`` of ``(query_id, neighbor_id, sim_col)``
    candidate rows: ``row_number`` over (sim desc, neighbor id asc)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(sim_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", sim_col, "rank")
    )


def _expr_topk(
    q: DataFrame,
    c: DataFrame,
    k: int,
    on: str | None = None,
    exclude_self: bool = True,
    dedup: bool = False,
) -> DataFrame:
    """The expression top-``k`` scorer: query side ``q`` (``query_id``,
    tag ``q``) × candidate side ``c`` (``neighbor_id``, tag ``c``),
    equi-joined on ``on`` (a cross join when None), every pair scored
    by the fold cosine and cut by :func:`_rank_cut`. ``dedup`` drops
    pairs found through more than one probe."""
    joined = q.crossJoin(c) if on is None else q.join(c, on)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id", "neighbor_id", _pair_cosine("q", "c").alias("cos_sim")
    )
    if dedup:
        scored = scored.distinct()
    return _rank_cut(scored, k)


def _expr_pairs(
    df: DataFrame, id_col: str, vec_col: str, key: str | None = None
) -> DataFrame:
    """``(id_a, id_b, cos_sim)`` for every ``id_a < id_b`` pair of
    ``df`` sharing ``key`` (all pairs when None), fold-cosine scored."""
    keys = [key] if key else []
    a = _side(df, id_col, vec_col, "id_a", "a", *keys)
    b = _side(df, id_col, vec_col, "id_b", "b", *keys)
    joined = a.crossJoin(b) if key is None else a.join(b, key)
    return joined.filter(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", _pair_cosine("a", "b").alias("cos_sim")
    )


def _block_topk(qids, cids, sims, valid, k: int):
    """Rank one (queries × candidates) similarity block under the
    family contract — the one numpy ranking kernel every pandas path
    shares. ``sims`` arrive rounded to 4 decimals; per query row the
    candidates order by (sim desc, neighbor id asc), self
    (``qid == cid``) and ``~valid`` entries are skipped, and at most
    ``k`` are kept. A NaN sim (a zero-norm raw vector) ranks last.
    Returns flat ``(query_ids, neighbor_ids, sims, ranks)`` arrays,
    query-row major and in rank order within a row; ``valid=None``
    keeps every non-self entry."""
    import numpy as np

    by_id = np.argsort(cids, kind="stable")
    # stable-sorting the id-ascending columns by -sim keeps id order
    # within equal sims
    cols = by_id[np.argsort(-sims[:, by_id], axis=1, kind="stable")]
    ok = qids[:, None] != cids[cols]
    if valid is not None:
        ok &= np.take_along_axis(valid, cols, axis=1)
    rank = np.cumsum(ok, axis=1)
    qi, j = np.nonzero(ok & (rank <= k))
    nb = cols[qi, j]
    return qids[qi], cids[nb], sims[qi, nb], rank[qi, j]


def _block_sims(qdf, cdf, vec_col: str, codebooks):
    """Rounded cosine block between the query rows ``qdf`` and the
    candidate rows ``cdf`` (the same frame for a per-cell self-join)
    and the ``valid`` mask :func:`_block_topk` takes.

    Raw payload (``codebooks=None``): BLAS cosine of ``vec_col``; every
    pair is valid, so a zero-norm vector's NaN sims rank last. PQ
    payload (``codebooks=(CB, cb_n2)`` from :func:`_codebook_arrays`):
    ADC cosine — exact query vector against each candidate's
    ``codes`` reconstruction, one (m × ks) lookup table per query —
    and a zero-norm query or reconstruction emits NO row (NaN from 0/0
    would rank ABOVE every real candidate in Spark's and DuckDB's
    descending order while numpy ranks it below — the pq_novelty_ids
    divergence class; the oracles mirror with qnorm > 0 AND cnorm >
    0)."""
    import numpy as np

    Q = np.stack(qdf[vec_col].to_numpy()).astype("float64")
    qn = np.sqrt((Q * Q).sum(axis=1))
    if codebooks is None:
        C, cn = Q, qn
        if cdf is not qdf:
            C = np.stack(cdf[vec_col].to_numpy()).astype("float64")
            cn = np.sqrt((C * C).sum(axis=1))
        return np.round((Q @ C.T) / np.outer(qn, cn), 4), None
    CB, cb_n2 = codebooks
    m, _, sub = CB.shape
    codes = np.stack(cdf["codes"].to_numpy()).astype("int64")  # (n, m)
    # T[i, j, c] = q_j · cb_j[c]
    T = np.einsum("nms,mks->nmk", Q.reshape(len(Q), m, sub), CB)
    adot = np.zeros((len(Q), len(codes)), dtype="float64")
    for j in range(m):
        adot += T[:, j, :][:, codes[:, j]]
    cn = np.sqrt(cb_n2[np.arange(m)[None, :], codes].sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.round(adot / np.outer(qn, cn), 4)
    return sims, np.outer(qn > 0, cn > 0)


def _block_frame(qdf, cdf, k, id_col, vec_col, sim_col, codebooks, ranked):
    """:func:`_block_sims` + :func:`_block_topk` over one block as the
    ``(query_id, neighbor_id, sim_col[, rank])`` pandas frame."""
    import numpy as np
    import pandas as pd

    qids = qdf[id_col].to_numpy(dtype="int64")
    cids = cdf[id_col].to_numpy(dtype="int64")
    if len(qids) and len(cids):
        sims, valid = _block_sims(qdf, cdf, vec_col, codebooks)
    else:
        sims, valid = np.empty((len(qids), len(cids))), None
    q, n, s, r = _block_topk(qids, cids, sims, valid, k)
    out = {"query_id": q, "neighbor_id": n, sim_col: s}
    if ranked:
        out["rank"] = r
    return pd.DataFrame(out)


def _cell_topk(
    assigned: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    vec_col: str,
    codebooks=None,
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Per-cell top-``k`` self-join: one ``applyInPandas`` call per
    ``group_col`` value scores the cell's members against each other as
    ONE block (each vector crosses the Arrow boundary once per cell,
    not once per candidate pair) and emits ``rank``. ``codebooks``
    selects the PQ payload (rows then carry ``codes``).

    Scale note: one group = one Python call, so a skewed cell
    serializes — keep cells balanced (k-means on a sample does) or
    split hot cells by salting queries across copies of the cell."""
    payload = [vec_col] if codebooks is None else [vec_col, "codes"]
    return (
        assigned.select(group_col, id_col, *payload)
        .groupBy(group_col)
        .applyInPandas(
            lambda pdf: _block_frame(
                pdf, pdf, k, id_col, vec_col, sim_col, codebooks, True
            ),
            schema=f"query_id long, neighbor_id long, {sim_col} double, rank long",
        )
    )


def _probe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    codebooks=None,
    sim_col: str = "cos_sim",
) -> DataFrame:
    """Multi-probe top-``k`` as a cogrouped per-cell block pass.

    ``queries`` carries each vector once per probed cell
    (:func:`ivf_probe_assign`), ``corpus`` each vector in its single
    home cell with its payload (raw vector, or ``codes`` when
    ``codebooks`` is given). Cogrouping on the cell scores each
    (queries-probing-cell × cell-members) block as ONE
    :func:`_block_frame` and emits only each query's per-cell
    top-``k`` — the global top-``k`` of a union is the top-``k`` of the
    per-group top-``k``s, so a bounded window over ≤ nprobe·k candidate
    rows per query finishes the ranking. Sims are rounded BEFORE any
    selection, so per-cell pruning can never disagree with the
    expression twin's global ordering."""
    payload = [vec_col] if codebooks is None else ["codes"]
    cand = (
        queries.select("cell", id_col, vec_col)
        .groupBy("cell")
        .cogroup(corpus.select("cell", id_col, *payload).groupBy("cell"))
        .applyInPandas(
            lambda qdf, cdf: _block_frame(
                qdf, cdf, k, id_col, vec_col, sim_col, codebooks, False
            ),
            schema=f"query_id long, neighbor_id long, {sim_col} double",
        )
    )
    return _rank_cut(cand, k, sim_col)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-``k``: for each query vector, the ``k`` nearest
    corpus vectors (self-matches excluded). Queries are broadcast; ties
    break on neighbor id for determinism. Returns
    ``(query_id, neighbor_id, cos_sim, rank)``."""
    q = F.broadcast(_side(queries, id_col, vec_col, "query_id", "q"))
    c = _side(widen_small_scan(corpus), id_col, vec_col, "neighbor_id", "c")
    return _expr_topk(q, c, k)


def signbit_buckets(
    df: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH bucket id from the sign bits of the first
    ``n_bits`` coordinates: bucket = Σ (v[i] >= 0) << i. Pure map
    stage."""
    v = _as_double(vec_col)
    # Bit weights are Python ints (shift amounts must be literals); the
    # n_bits terms unroll at plan-build time into one map expression.
    bucket = F.lit(0).cast("long")
    for i in range(n_bits):
        bucket = bucket + F.when(
            F.element_at(v, i + 1) >= 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return df.select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket")
    )


def lsh_topk(
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = False,
    impl: str = "expr",
) -> DataFrame:
    """Approximate all-pairs top-``k``: bucket by sign bits, compare only
    within buckets, rank per vector. Returns
    ``(query_id, neighbor_id, cos_sim, rank)`` — vectors alone in their
    bucket produce no rows (the recall trade documented in the module
    docstring).

    ``multi_probe=True`` additionally probes every bucket one bit-flip
    away from the query's own (the standard multi-probe trade: ×(1 +
    n_bits) candidate volume for sharply better recall at bucket
    boundaries — a vector whose neighbor differs in one sign bit is
    found). Probing is asymmetric — only the query side expands — so
    pairs aren't double-counted within a probe and are deduped across
    probes by (query, neighbor).

    ``impl='pandas'`` scores each bucket as one BLAS matmul inside
    ``applyInPandas`` (:func:`_cell_topk` — the same scale path
    :func:`ivf_topk` defaults to): each vector crosses the Arrow
    boundary once per bucket instead of once per candidate pair, and
    the within-bucket dot products vectorize instead of running as
    interpreted ``aggregate`` folds. Identical output contract (sims
    rounded to 4 before ranking, neighbor-id ties). Single-probe only —
    the default stays ``'expr'`` as the engine-portable oracle twin."""
    if impl == "pandas" and multi_probe:
        raise ValueError("impl='pandas' supports single-probe only")
    if impl not in ("pandas", "expr"):
        raise ValueError(f"impl must be 'expr' or 'pandas', got {impl!r}")
    b = signbit_buckets(widen_small_scan(corpus), n_bits, id_col, vec_col)
    if impl == "pandas":
        return _cell_topk(b, "bucket", k, id_col, vec_col)
    q = _side(b, id_col, vec_col, "query_id", "q", "bucket")
    if multi_probe:
        q = q.withColumn("bucket", _flip_probes(n_bits))
    c = _side(b, id_col, vec_col, "neighbor_id", "c", "bucket")
    return _expr_topk(q, c, k, on="bucket", dedup=multi_probe)


def _flip_probes(n_bits: int) -> Column:
    """The ``bucket`` column exploded to itself and its ``n_bits``
    one-bit-flip neighbors (query-side multi-probe LSH)."""
    return F.explode(
        F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)],
        )
    )


def _signbit_bits(
    corpus: DataFrame, n: int, target: int, vec_col: str, dim: int | None
) -> int:
    """The self-tuned sign-bit count ``clamp(⌈log2(max(N, 2) /
    target)⌉, 1, dim)`` — mean bucket occupancy held at ``target``, at
    most one hyperplane per coordinate. ``dim=None`` probes the first
    vector with one ``head()`` job; an empty corpus (or a null first
    vector) counts as ``dim = 1``, where no pairs exist at any bit
    count and the caller still gets the contract-schema empty frame."""
    bits = max(1, math.ceil(math.log2(max(n, 2) / target)))
    if dim is None:
        row = corpus.select(vec_col).head()
        dim = len(row[0]) if row and row[0] is not None else 1
    return min(bits, dim)


#: Target mean bucket occupancy for self-tuned LSH. Within-bucket work
#: is ~N·bucket_size pair scores; holding bucket size constant keeps it
#: linear in N.
LSH_TARGET_BUCKET = 32


def lsh_index_topk(
    corpus: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    n_estimate: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = False,
    impl: str | None = None,
    target_bucket: int = LSH_TARGET_BUCKET,
    dim: int | None = None,
) -> DataFrame:
    """Self-tuning LSH top-``k``: :func:`lsh_topk` with a bit count
    that tracks corpus size — the production entry point.

    A FIXED ``n_bits`` is the measured scale failure mode (SCALE.md
    round 5: 10× data with the same 8 bits → 64.9× time). With 2^bits
    buckets, mean occupancy is N/2^bits and within-bucket scoring is
    ~N·occupancy pair folds, so constant bits make the query quadratic
    in N. Setting ``bits = ⌈log2(N / target_bucket)⌉`` pins occupancy
    at ``target_bucket`` and the total at ~N·target_bucket — linear —
    at the usual LSH price: more bits split more true neighbors across
    bucket boundaries, so recall drops unless ``multi_probe`` rises
    with bits. Bits are capped at the embedding dimension (sign-bit
    hashing has one hyperplane per coordinate).

    Pass ``n_estimate``/``dim`` when known to skip the count()/head()
    probe jobs. Exact-oracle catalog queries keep calling
    :func:`lsh_topk` with pinned literal bits; this wrapper is for real
    corpora where the index must track N.
    """
    if n_estimate is not None and n_estimate <= 0:
        raise ValueError(f"n_estimate must be positive, got {n_estimate}")
    # the count job only runs when a decision actually needs N
    n = n_estimate
    if impl is None or n_bits is None:
        n = _corpus_rowcount(corpus, n_estimate)
    if impl is None:
        # Unlike IVF (where BLAS also removes an N x cells assignment
        # cost), LSH bucketing is a free map expression, so pandas only
        # buys back the per-pair scoring fold — a smaller but still
        # real win once JIT/Arrow overheads amortize: measured WARM at
        # 2k x 64d, occupancy 32: pandas 0.78 s vs expr 1.03 s (cold
        # single-shot comparisons invert this; always compare warm).
        # Multi-probe always stays on expressions.
        impl = (
            "pandas"
            if (n >= LSH_BLAS_SCORE_THRESHOLD and not multi_probe)
            else "expr"
        )
    if n_bits is None:
        n_bits = _signbit_bits(corpus, n, target_bucket, vec_col, dim)
    return lsh_topk(
        corpus,
        k=k,
        n_bits=n_bits,
        id_col=id_col,
        vec_col=vec_col,
        multi_probe=multi_probe,
        impl=impl,
    )


def _centroid_sql(centroids) -> str:
    """The [(cell_id, vector)] list as ONE SQL literal string (array of
    named_structs with D-suffix double literals — repr() round-trips
    each double bit-exactly). Built as a single generated string
    because the F.array(*[F.lit(x) ...]) spelling is one py4j
    round-trip per element: at 45 cells x 64 dims that is ~3k calls
    and was the measured majority of ivf_topk's construction time."""
    return "array(%s)" % ",".join(
        "named_struct('cell',CAST(%d AS BIGINT),'cvec',array(%s))"
        % (int(cell_id), ",".join("%rD" % float(x) for x in cvec))
        for cell_id, cvec in centroids
    )


def _expr_assign(
    df: DataFrame,
    cells: Column,
    id_col: str,
    vec_col: str,
    nprobe: int | None = None,
) -> DataFrame:
    """The expression cell-assign kernel: explode each vector against
    the ``cells`` array of ``(cell, cvec)`` structs (a
    :func:`_centroid_sql` literal, or a member list looked up per row)
    so each squared distance is an exact sequential fold computed ONCE
    per (vector, centroid) row, then cut. ``nprobe=None``: the home
    cell, a ``min_by`` over a (dist, cell) struct — lexicographic
    compare gives the deterministic lower-cell tie-break — returning
    ``(id, vec, cell)``. Otherwise the ``nprobe`` nearest cells ranked
    by (dist, cell) in one ``row_number`` window on the vector id,
    returning ``(id, vec, cell, probe_rank)``.

    The naive home-cell alternative — a chain of when(dist_i <
    best_so_far) expressions — nests every prior distance inside every
    later branch and blows the expression tree up exponentially in
    |centroids| (measured 13s vs <2s for 8 centroids × 5k vectors)."""
    v = _as_double(vec_col)
    dist = df.select(
        F.col(id_col), F.col(vec_col), F.explode(cells).alias("__c__")
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__c__.cell").alias("cell"),
        F.aggregate(
            F.zip_with(v, F.col("__c__.cvec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__dist__"),
    )
    if nprobe is None:
        return dist.groupBy(id_col).agg(
            F.first(vec_col).alias(vec_col),
            F.min_by(
                F.col("cell"), F.struct(F.col("__dist__"), F.col("cell"))
            ).alias("cell"),
        )
    w = Window.partitionBy(id_col).orderBy(F.asc("__dist__"), F.asc("cell"))
    return (
        dist.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select(id_col, vec_col, "cell", "probe_rank")
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Assign each vector to its nearest centroid (IVF cell).

    ``centroids`` is a small driver-side list ``[(cell_id, vector)]`` —
    at scale it comes from a sampled k-means fit and is broadcast; here
    the assignment is the operator. Ties break on the lower cell id so
    assignment is deterministic and engine-reproducible. Map-only: the
    centroid table is a literal in the plan, no shuffle.

    ``impl='expr'`` (default) computes each distance as an exact
    sequential fold — bit-reproducible by a SQL oracle, but the fold is
    interpreted and its cost is |vectors|·|cells|·dim, which dominates
    the whole query once cell count grows with corpus size (measured:
    64 cells × 200k vectors spent ~¾ of total query time assigning).
    ``impl='pandas'`` is the scale path: one numpy matmul against the
    broadcast centroid matrix per Arrow batch, argmin row-wise (numpy's
    first-minimum rule = the same lower-cell tie-break). Still map-only.
    Distances may differ from the fold by float ULPs, so near-exact-tie
    vectors could assign differently — use 'expr' when an external
    oracle must reproduce cell identity, 'pandas' for production scale.
    """
    if not centroids:
        raise ValueError("ivf_assign requires at least one centroid")
    if impl == "pandas":
        return _probe_assign_pandas(df, centroids, 1, id_col, vec_col).drop(
            "probe_rank"
        )
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'pandas', got {impl!r}")
    cells = F.expr(_centroid_sql(centroids))
    return _expr_assign(widen_small_scan(df), cells, id_col, vec_col)


def _fit_sample(
    df: DataFrame, id_col: str, vec_col: str, max_sample: int, what: str
):
    """The bounded deterministic sample every fitted model shares: the
    first ``max_sample`` vectors by id (a stable, engine-independent
    choice) in one driver-side collect, as an ``(n, d)`` float64 array.
    The fit sample is capped at max_sample by the limit; the bound
    makes the cap enforced rather than assumed. ``what`` names the fit
    in the bound and in the empty-corpus error."""
    import numpy as np

    rows = bounded_collect(
        df.select(id_col, vec_col).orderBy(id_col).limit(max_sample),
        max_sample,
        f"{what} fit sample",
    )
    X = np.array([list(r[1]) for r in rows], dtype="float64")
    if len(X) == 0:
        raise ValueError(f"{what} needs a non-empty corpus")
    return X


def fit_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
    iters: int = 10,
    seed: int = 13,
) -> list[tuple[int, list[float]]]:
    """Deterministic sampled k-means fit for IVF centroids.

    Production IVF fits cells on a bounded sample, not the corpus: the
    sample here is the first ``max_sample`` vectors by id (a stable,
    engine-independent choice — swap in :func:`tmdb_index_spark
    .operators.sampling.hash_sample` for an unbiased one), Lloyd
    iterations run driver-side in numpy, and init is k-means++ seeded
    with a fixed RNG, so the same inputs always produce the same
    centroids — reruns of the index build assign identical cells.
    Returns the ``[(cell_id, vector)]`` list :func:`ivf_topk` takes;
    cell ids are ordered by first principal coordinate for stability.
    """
    if k > max_sample:
        raise ValueError(
            f"fit_centroids: k={k} exceeds the fit sample cap "
            f"max_sample={max_sample} — a sampled k-means cannot supply "
            "more centroids than sample rows, and silently clamping k "
            "hides the occupancy cliff at scale (round-10 verdict). "
            "Raise max_sample deliberately, or use fit-free sign-bit "
            "LSH cells (signbit_buckets — semantic_dedup routes there "
            "automatically)."
        )
    X = _fit_sample(df, id_col, vec_col, max_sample, "fit_centroids")
    return fit_kmeans_array(X, k, iters=iters, seed=seed)


def fit_kmeans_array(
    X, k: int, iters: int = 10, seed: int = 13
) -> list[tuple[int, list[float]]]:
    """The deterministic numpy k-means core of :func:`fit_centroids`,
    exposed on a raw ``(n, d)`` float64 array so an external oracle
    builder (DuckDB reading the same parquet sample) can reproduce the
    EXACT fitted centroids without a SparkSession — the fit is a pure
    function of (sample bytes, k, iters, seed). Also reused by the
    two-level index to quantize the fine-centroid set itself."""
    import numpy as np

    n = len(X)
    k = min(k, n)
    rng = np.random.RandomState(seed)
    if k > 1024:
        # Large-k regime (two-level fine cells: thousands): k-means++
        # is inherently SEQUENTIAL — k steps of O(n·d) distance updates
        # (measured 11.8 s of an 11.8 s fit at k=3420) — while its
        # quality edge over random init shrinks as k grows and Lloyd
        # (cheap here: chunked matmul + scatter-add) does the real
        # work. Standard large-k practice: deterministic random
        # distinct-point init + 50% more Lloyd iterations.
        C = X[rng.choice(n, size=k, replace=False)].copy()
        iters = max(iters, int(iters * 1.5))
    else:
        # k-means++ init with an INCREMENTAL running min: recomputing
        # the min over all centers each step is O(n·d·k²). The running
        # min is elementwise-identical arithmetic, so the RNG draw
        # sequence (and therefore the fit — and every pinned-seed
        # oracle built on it) is unchanged from the original loop.
        centers = [X[rng.randint(n)]]
        d2 = ((X - centers[0]) ** 2).sum(axis=1)
        for _ in range(1, k):
            probs = d2 / d2.sum() if d2.sum() > 0 else None
            c = X[rng.choice(n, p=probs)]
            centers.append(c)
            d2 = np.minimum(d2, ((X - c) ** 2).sum(axis=1))
        C = np.stack(centers)
    # Lloyd assignment via the expanded-norm matmul, row-chunked so the
    # (n, k) distance block stays bounded; the O(n·k·d) broadcast
    # tensor of the naive form is ~66 GB at (10k sample, 13k cells).
    x2 = (X * X).sum(axis=1)[:, None]
    chunk = max(1, int(2e7 // max(k, 1)))
    for _ in range(iters):
        c2 = (C * C).sum(axis=1)[None, :]
        assign = np.empty(n, dtype="int64")
        for s in range(0, n, chunk):
            blk = slice(s, min(s + chunk, n))
            d2b = x2[blk] - 2.0 * (X[blk] @ C.T) + c2
            assign[blk] = d2b.argmin(axis=1)
        # scatter-add mean update: the per-cluster boolean-mask loop is
        # O(n·k) per iteration — 3420 masks × 10k rows × 10 iters was
        # the fit's second hotspot at two-level cell counts
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=k).astype("float64")
        nz = counts > 0
        C[nz] = sums[nz] / counts[nz, None]
    order = np.argsort(C[:, 0], kind="stable")
    return [(i, [float(x) for x in C[j]]) for i, j in enumerate(order)]


#: Above this corpus size :func:`ivf_index_topk` switches assignment to
#: the BLAS Arrow path. Measured crossover is far lower than intuition
#: suggests: Catalyst evaluates the per-centroid ``aggregate`` fold
#: INTERPRETED (outside whole-stage codegen), so even 500 vectors × 22
#: cells × 64 dims costs 1.2 s where one numpy matmul costs 0.44 s —
#: and the gap widens with N·cells (2000×45: 5.3 s vs 0.67 s). The
#: expression path remains for sub-thousand corpora where keeping the
#: plan JVM-only (no Python workers) is worth more than the second.
IVF_BLAS_ASSIGN_THRESHOLD = 1_000

#: Above this corpus size :func:`lsh_index_topk` scores buckets via the
#: BLAS path — see the crossover note inside that function.
LSH_BLAS_SCORE_THRESHOLD = 1_000


def _assign_impl(n: int) -> str:
    """The cell-assign kernel for an ``n``-vector corpus: BLAS at or
    above :data:`IVF_BLAS_ASSIGN_THRESHOLD`, the fold below it."""
    return "pandas" if n >= IVF_BLAS_ASSIGN_THRESHOLD else "expr"


def ivf_index_topk(
    corpus: DataFrame,
    k: int = 3,
    cells: int | None = None,
    n_estimate: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    max_sample: int = 10_000,
    seed: int = 13,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Self-tuning IVF top-``k``: fit + assign + search with scale-aware
    defaults — the production entry point.

    :func:`ivf_topk` takes caller-fixed centroids, and a FIXED cell
    count is the measured scale failure mode (SCALE.md: 10× data with
    the same cells → 3.2× time, because mean cell size — and the
    within-cell quadratic work per cell — grows linearly with N).
    Balanced-cell IVF cost is ``N²/cells + N·cells·d``; minimizing over
    ``cells`` gives the classic ``cells ≈ √N`` rule — the OPTIMAL flat
    IVF, but note both terms are then Θ(N^1.5), not linear: the round-6
    100× sweep measured 131× wall time at 100× data (SCALE.md "The
    IVF-flat ceiling"). No cell count escapes this — flat IVF is the
    recall-oriented mid-scale option; the occupancy-constant
    :func:`lsh_index_topk` (1.7× at 100× in the same sweep) is the
    100 TB ANN path, and beyond flat IVF real systems move to
    hierarchical assignment (two-level IVF / graph indexes), out of
    scope here. This wrapper:

    * defaults ``cells = round(√N)`` from ``n_estimate`` (pass it when
      the caller already knows the corpus size — e.g. a catalog row
      count — to skip the count job) or a cheap distributed ``count()``;
    * switches assignment to the BLAS Arrow path above
      :data:`IVF_BLAS_ASSIGN_THRESHOLD` vectors (bit-identical to the
      expression fold now that both break exact-distance ties on lower
      cell id; the expression fold stays the default below the
      threshold only because it keeps the whole plan JVM-side);
    * fits centroids on a bounded deterministic sample
      (:func:`fit_centroids` — ``max_sample`` rows to the driver, never
      the corpus).

    Exact-oracle catalog queries keep calling :func:`ivf_topk` with
    pinned literal centroids; this wrapper is for real corpora where
    the index must track N.

    ``queries`` (optional, multi-probe only) restricts the QUERY side
    to a subset frame while the index side stays the full corpus —
    the eval-harness shape (recall over a bounded query sample).
    Per-query results are independent (probe assignment, per-cell
    scoring and the final per-query window all key on the query id),
    so the rows returned for a query are IDENTICAL whether or not the
    other queries are computed — don't pay N top-k computations to
    keep N/50 of them (guide §1.2: don't compute what you throw
    away).
    """
    n = _corpus_rowcount(corpus, n_estimate)
    if cells is None:
        cells = max(1, round(n ** 0.5))
    centroids = fit_centroids(
        corpus, cells, id_col, vec_col, max_sample=max_sample, seed=seed
    )
    return ivf_topk(
        corpus,
        centroids,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        nprobe=nprobe,
        assign_impl=_assign_impl(n),
        queries=queries,
    )


def fit_two_level_centroids(
    df: DataFrame,
    cells: int,
    coarse: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
    iters: int = 10,
    seed: int = 13,
) -> tuple[
    list[tuple[int, list[float]]],
    list[tuple[int, list[float]]],
    dict[int, int],
]:
    """Hierarchical quantizer fit for :func:`ivf2_index_topk`.

    Fine centroids come from the same bounded-sample deterministic
    k-means as flat IVF (:func:`fit_centroids`); the COARSE quantizer
    is then fit ON THE FINE CENTROIDS themselves (:func:`
    fit_kmeans_array` over the ``cells × d`` matrix — a tiny second
    fit), and each fine cell is assigned to its nearest coarse cell
    (lower-id tie-break). Returns ``(coarse_centroids,
    fine_centroids, fine_to_coarse)``. Everything is a pure function
    of (sample, parameters, seed), so index rebuilds reproduce
    identical structure."""
    if cells > max_sample:
        raise ValueError(
            f"fit_two_level_centroids: cells={cells} exceeds the fit "
            f"sample cap max_sample={max_sample} — the sampled fit "
            "cannot supply more fine centroids than sample rows; raise "
            "max_sample deliberately or use fit-free sign-bit LSH cells."
        )
    X = _fit_sample(df, id_col, vec_col, max_sample, "fit_two_level_centroids")
    return two_level_from_sample(X, cells, coarse, iters=iters, seed=seed)


def two_level_from_sample(
    X, cells: int, coarse: int, iters: int = 10, seed: int = 13
) -> tuple[
    list[tuple[int, list[float]]],
    list[tuple[int, list[float]]],
    dict[int, int],
]:
    """Sample-array core of :func:`fit_two_level_centroids`, exposed so
    the oracle builder can reproduce the identical index structure from
    the same parquet sample without a SparkSession."""
    import numpy as np

    fine = fit_kmeans_array(X, cells, iters=iters, seed=seed)
    Cf = np.array([v for _, v in fine], dtype="float64")
    coarse_list = fit_kmeans_array(
        Cf, min(coarse, len(fine)), iters=iters, seed=seed
    )
    Cc = np.array([v for _, v in coarse_list], dtype="float64")
    d2 = ((Cf[:, None, :] - Cc[None, :, :]) ** 2).sum(axis=2)
    f2c = d2.argmin(axis=1)  # first-min = lower coarse id on ties
    fine_to_coarse = {
        int(fid): int(coarse_list[f2c[i]][0])
        for i, (fid, _) in enumerate(fine)
    }
    return coarse_list, fine, fine_to_coarse


def two_level_ivf_assign(
    df: DataFrame,
    coarse_centroids: list[tuple[int, list[float]]],
    fine_centroids: list[tuple[int, list[float]]],
    fine_to_coarse: dict[int, int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_coarse: int = 1,
) -> DataFrame:
    """Two-stage cell assignment — the hierarchical fix for flat IVF's
    measured Θ(N^1.5) ceiling (SCALE.md "The IVF-flat ceiling"). Flat
    assignment scans every fine centroid per vector (N·cells·d); here
    each vector first finds its ``probe_coarse`` nearest COARSE cells
    (N·|coarse|·d), then scans only those cells' fine members
    (≈ N·probe_coarse·cells/|coarse|·d). With |coarse| = √cells both
    stages are N·√cells·d. Map-only (one mapInPandas, centroid
    matrices broadcast in the closure); the trade is recall at coarse
    boundaries — a vector whose true nearest fine centroid lives in an
    unprobed coarse cell mis-assigns; ``probe_coarse`` is the lever.

    Determinism: BLAS distances with numpy first-minimum argmin and
    members sorted by fine id — exact ties break to the lower fine
    cell, matching :func:`ivf_assign`'s rule. With ``probe_coarse >=
    |coarse|`` the assignment is EXHAUSTIVE over fine cells and equals
    flat :func:`ivf_assign` up to distance-computation ULPs
    (tested in ``test_similarity.py``)."""
    import pandas as pd

    if not coarse_centroids or not fine_centroids:
        raise ValueError("two_level_ivf_assign requires fitted centroids")
    coarse_sorted = sorted(coarse_centroids, key=lambda cv: int(cv[0]))
    # per coarse cell: member fine ids (ascending) + their vectors
    members: dict[int, list[tuple[int, list[float]]]] = {
        int(c): [] for c, _ in coarse_sorted
    }
    for fid, fvec in sorted(fine_centroids, key=lambda cv: int(cv[0])):
        members[fine_to_coarse[int(fid)]].append(
            (int(fid), [float(x) for x in fvec])
        )
    # EMPTY coarse cells (Lloyd keeps stale centers for clusters that
    # lost all members) are excluded from the probe candidate set —
    # probing one would otherwise leave a vector cell-less (the int64
    # sentinel would group such vectors into a bogus mega-cell) while
    # the SQL oracle's membership join silently drops them. With only
    # populated cells probeable, every vector always lands in a real
    # fine cell, identically on both engines.
    coarse_sorted = [
        (c, v) for c, v in coarse_sorted if members[int(c)]
    ]
    coarse_ids = [int(c) for c, _ in coarse_sorted]
    Cc_rows = [[float(x) for x in v] for _, v in coarse_sorted]
    w = max(1, min(int(probe_coarse), len(coarse_ids)))
    dtypes = dict(df.dtypes)
    out_schema = (
        f"`{id_col}` {dtypes[id_col]}, `{vec_col}` {dtypes[vec_col]}, cell long"
    )

    def run(batches):
        import numpy as np

        Cc = np.array(Cc_rows, dtype="float64")
        cc2 = (Cc * Cc).sum(axis=1)
        cid_arr = np.array(coarse_ids, dtype="int64")
        mem = {}
        for pos, c in enumerate(coarse_ids):
            if members[c]:
                mids = np.array([m for m, _ in members[c]], dtype="int64")
                M = np.array([v for _, v in members[c]], dtype="float64")
                mem[pos] = (mids, M, (M * M).sum(axis=1))
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(cell=pd.Series([], dtype="int64"))
                continue
            X = np.array([list(v) for v in pdf[vec_col]], dtype="float64")
            x2 = (X * X).sum(axis=1)
            Dc = x2[:, None] - 2.0 * (X @ Cc.T) + cc2[None, :]
            # per row: positions of the w nearest coarse cells (ties →
            # lower position = lower coarse id, via stable argsort)
            probe = np.argsort(Dc, axis=1, kind="stable")[:, :w]
            best_d = np.full(n, np.inf)
            best_cell = np.full(n, np.iinfo(np.int64).max, dtype="int64")
            for pos in range(len(coarse_ids)):
                if pos not in mem:
                    continue
                rows = np.nonzero((probe == pos).any(axis=1))[0]
                if len(rows) == 0:
                    continue
                mids, M, m2 = mem[pos]
                D = x2[rows, None] - 2.0 * (X[rows] @ M.T) + m2[None, :]
                j = D.argmin(axis=1)  # first-min = lower fine id
                dmin = D[np.arange(len(rows)), j]
                cand = mids[j]
                upd = (dmin < best_d[rows]) | (
                    (dmin == best_d[rows]) & (cand < best_cell[rows])
                )
                ridx = rows[upd]
                best_d[ridx] = dmin[upd]
                best_cell[ridx] = cand[upd]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cell": best_cell,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, out_schema)


def ivf2_index_topk(
    corpus: DataFrame,
    k: int = 3,
    cells: int | None = None,
    coarse: int | None = None,
    n_estimate: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_coarse: int = 1,
    nprobe: int = 1,
    max_sample: int = 10_000,
    seed: int = 13,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Two-level (hierarchical) IVF top-``k`` — the recall-oriented ANN
    index that survives where flat IVF's measured Θ(N^1.5) does not.

    Flat IVF's total work, assignment N·cells·d + in-cell scoring
    N²/cells, is minimized at cells=√N and is then Θ(N^1.5) in BOTH
    terms — the round-6 100× sweep measured 131.6× wall at 100× data
    and no cell count escapes it (SCALE.md). Two-level assignment
    breaks the assignment term: with ``cells = N^(2/3)`` (the new
    balance point) and ``coarse = √cells = N^(1/3)``, assignment costs
    N·(N^(1/3) + cells/coarse = N^(1/3))·d and scoring N²/cells =
    N^(4/3) — total **Θ(N^(4/3))**: 100× data → ~460× work instead of
    1000×, and the measured wall ratio drops accordingly (SCALE.md
    round-7 sweep). The LSH index (occupancy-constant, 1.7× at 100×)
    remains the throughput ANN path; this is the recall-oriented
    alternative when learned cells matter.

    Smaller fine cells (N^(1/3) members vs flat's √N) mean fewer
    candidates per query — recover recall with ``probe_coarse`` (probe
    width at the coarse level), ``nprobe`` (round 13: FINE-level
    query-side multi-probe — each query searches its ``nprobe``
    nearest fine cells among the probed coarse cells' members via
    :func:`ivf2_probe_assign`, while corpus membership stays
    single-cell, the same asymmetric contract as flat
    :func:`ivf_topk`'s ``nprobe``), or a caller-fixed larger
    ``cells``.  ``cells`` is capped at ``max_sample`` (the fit sample
    bounds how many distinguishable cells a driver-side fit supports;
    production beyond that scales ``max_sample`` or fits
    distributed)."""
    if queries is not None and nprobe <= 1:
        raise ValueError(
            "queries= is only supported on the multi-probe (nprobe > 1) "
            "path — the single-probe scoring is a per-cell self-join"
        )
    n = _corpus_rowcount(corpus, n_estimate)
    if cells is None:
        cells = max(1, min(round(n ** (2.0 / 3.0)), max_sample))
    if coarse is None:
        coarse = max(1, round(cells ** 0.5))
    cc, fine, f2c = fit_two_level_centroids(
        corpus, cells, coarse, id_col, vec_col,
        max_sample=max_sample, seed=seed,
    )
    assigned = two_level_ivf_assign(
        corpus, cc, fine, f2c, id_col, vec_col, probe_coarse=probe_coarse
    )
    if nprobe > 1:
        q = ivf2_probe_assign(
            queries if queries is not None else corpus, cc, fine, f2c,
            probe_coarse=probe_coarse, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
            # BLAS probe side: the home assignment above and the
            # cogrouped scoring below are already pandas/BLAS
            impl="pandas",
        )
        return _probe_topk(q, assigned, k, id_col, vec_col)
    return _cell_topk(assigned, "cell", k, id_col, vec_col)


def _ivf2_probe_pandas(
    df: DataFrame,
    coarse_centroids: list[tuple[int, list[float]]],
    fine_centroids: list[tuple[int, list[float]]],
    fine_to_coarse: dict[int, int],
    probe_coarse: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """BLAS two-level probe assignment (see :func:`ivf2_probe_assign`
    ``impl='pandas'``): coarse stage = one matmul + stable argsort
    (ties → lower coarse id, matrix in id order); fine stage = one
    matmul against ALL fine centroids with non-probed members masked
    to +inf, stable argsort (ties → lower fine id), keep ``nprobe``.
    Map-only — both row_number windows of the expression path fold
    into the batch."""
    import pandas as pd

    used = set(int(c) for c in fine_to_coarse.values())
    cc = sorted(
        ((int(c), [float(x) for x in v]) for c, v in coarse_centroids
         if int(c) in used),
        key=lambda cv: cv[0],
    )
    fine_sorted = sorted(
        ((int(c), [float(x) for x in v]) for c, v in fine_centroids),
        key=lambda cv: cv[0],
    )
    coarse_pos = {c: i for i, (c, _) in enumerate(cc)}
    cc_rows = [v for _, v in cc]
    fine_ids = [c for c, _ in fine_sorted]
    fine_rows = [v for _, v in fine_sorted]
    f2c_pos_list = [
        coarse_pos[int(fine_to_coarse[int(fid)])] for fid in fine_ids
    ]
    w = max(1, min(int(probe_coarse), len(cc)))
    dtypes = dict(df.dtypes)
    out_schema = (
        f"`{id_col}` {dtypes[id_col]}, `{vec_col}` {dtypes[vec_col]}, "
        "cell long, probe_rank int"
    )

    def run(batches):
        import numpy as np

        Cc = np.array(cc_rows, dtype="float64")
        cc2 = (Cc * Cc).sum(axis=1)
        Fm = np.array(fine_rows, dtype="float64")
        f2 = (Fm * Fm).sum(axis=1)
        fid_arr = np.array(fine_ids, dtype="int64")
        f2c_pos = np.array(f2c_pos_list, dtype="int64")
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        vec_col: pdf[vec_col],
                        "cell": pd.Series([], dtype="int64"),
                        "probe_rank": pd.Series([], dtype="int32"),
                    }
                )
                continue
            X = np.array([list(v) for v in pdf[vec_col]], dtype="float64")
            x2 = (X * X).sum(axis=1)[:, None]
            d2c = x2 - 2.0 * (X @ Cc.T) + cc2[None, :]
            probed = np.argsort(d2c, axis=1, kind="stable")[:, :w]
            d2f = x2 - 2.0 * (X @ Fm.T) + f2[None, :]
            # member j is a candidate for row i iff its coarse cell
            # position is among row i's probed positions
            mask = (f2c_pos[None, :, None] == probed[:, None, :]).any(axis=2)
            d2m = np.where(mask, d2f, np.inf)
            order = np.argsort(d2m, axis=1, kind="stable")
            avail = mask.sum(axis=1)
            take = np.minimum(avail, nprobe)
            ids_np = pdf[id_col].to_numpy()
            vecs_np = pdf[vec_col].to_numpy()
            row_idx = np.repeat(np.arange(n), take)
            col_rank = np.concatenate(
                [np.arange(t) for t in take]
            ) if n else np.array([], dtype="int64")
            sel = order[row_idx, col_rank]
            yield pd.DataFrame(
                {
                    id_col: ids_np[row_idx],
                    vec_col: vecs_np[row_idx],
                    "cell": fid_arr[sel],
                    "probe_rank": (col_rank + 1).astype("int32"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, out_schema)


def ivf2_probe_assign(
    df: DataFrame,
    coarse_centroids: list[tuple[int, list[float]]],
    fine_centroids: list[tuple[int, list[float]]],
    fine_to_coarse: dict[int, int],
    probe_coarse: int = 1,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Each vector's ``nprobe`` nearest FINE cells under hierarchical
    search — the two-level twin of :func:`ivf_probe_assign` (round-13:
    the recall lever existed only on flat IVF, the Θ(N^1.5) family, so
    the documented beyond-flat path had no multi-probe).

    Two stages: (1) the ``probe_coarse`` nearest coarse cells per
    vector (dist asc, coarse id asc — only POPULATED coarse cells
    participate, mirroring :func:`two_level_ivf_assign`); (2) rank the
    probed cells' FINE members per vector (dist asc, fine id asc),
    keep ``probe_rank <= nprobe``.  Rank 1 is exactly the two-level
    assignment, so the probe set always contains the home cell.

    ``impl='expr'`` (default) runs both stages as exact sequential
    folds so a SQL oracle reproduces every distance bit-for-bit;
    ``impl='pandas'`` is the BLAS twin (:func:`_ivf2_probe_pandas`):
    one matmul per stage per Arrow batch with in-batch stable ranking
    — same (dist, id) tie-breaks, no window shuffles, no member-map
    plan literal — with the usual assignment-ULP caveat
    (:func:`ivf_assign`); the home side it pairs with
    (:func:`two_level_ivf_assign`) is already BLAS.

    Scale shape: the fine stage explodes ONLY the probed coarse
    cells' member lists (a literal ``coarse -> members`` map, no
    cells-wide explode-then-filter), so per-vector work is
    ``|coarse| + probe_coarse * cells/|coarse|`` distance folds —
    the same Θ(N^(1/3)) assignment arithmetic as the index build,
    ~2.5x less fold work than flat multi-probe's ``cells = √N`` scan
    at 100x data.  Two row-number windows on the vector id (expr
    impl; the pandas impl is map-only).
    """
    if not coarse_centroids or not fine_centroids:
        raise ValueError("ivf2_probe_assign requires fitted centroids")
    if impl == "pandas":
        return _ivf2_probe_pandas(
            df, coarse_centroids, fine_centroids, fine_to_coarse,
            probe_coarse, nprobe, id_col, vec_col,
        )
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'pandas', got {impl!r}")
    # only populated coarse cells are probe candidates (empty ones
    # would leave a vector fine-member-less; two_level_ivf_assign rule)
    used = set(int(c) for c in fine_to_coarse.values())
    probed = ivf_probe_assign(
        df,
        [(c, v) for c, v in coarse_centroids if int(c) in used],
        probe_coarse,
        id_col,
        vec_col,
        impl="expr",
    )
    members: dict[int, list[tuple[int, list[float]]]] = {}
    for fid, fvec in sorted(fine_centroids, key=lambda cv: int(cv[0])):
        members.setdefault(int(fine_to_coarse[int(fid)]), []).append(
            (int(fid), fvec)
        )
    # one generated map literal (the _centroid_sql idiom): the
    # F.create_map(*[F.lit...]) spelling is a py4j round-trip per
    # element — prohibitive at two-level fine-cell counts
    mem_map = F.expr(
        "map(%s)"
        % ",".join(
            "CAST(%d AS BIGINT),%s" % (ccell, _centroid_sql(mems))
            for ccell, mems in sorted(members.items())
        )
    )
    fine_cells = F.element_at(mem_map, F.col("cell"))
    return _expr_assign(probed, fine_cells, id_col, vec_col, nprobe)


def _probe_assign_pandas(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The BLAS cell-assign kernel: ‖x−c‖² = ‖x‖² − 2x·C + ‖c‖² as one
    matmul per Arrow batch; vectors cross the Arrow boundary once per
    batch instead of once per centroid. Returns ``(id, vec, cell,
    probe_rank)``, ``nprobe`` rows per vector.

    The centroid matrix is built in cell-id order, so ``argmin``'s
    first-minimum rule (the home cell, ``nprobe=1``) and a stable
    argsort (the ``nprobe`` nearest) both break exact-distance ties to
    the lower cell — the (dist, cell) rule of the expression twin, so
    the impls stay bit-identical even on exact-tie vectors. The
    per-vector top-``nprobe`` happens inside the batch, so the window
    shuffle + row_number of the expression path disappears entirely —
    map-only at every scale."""
    import pandas as pd

    centroids = sorted(centroids, key=lambda cv: int(cv[0]))
    cells = [int(c) for c, _ in centroids]
    cvecs = [[float(x) for x in v] for _, v in centroids]
    dtypes = dict(df.dtypes)
    out_schema = (
        f"`{id_col}` {dtypes[id_col]}, `{vec_col}` {dtypes[vec_col]}, "
        "cell long, probe_rank int"
    )
    p = max(1, min(int(nprobe), len(cells)))

    def run(batches):
        import numpy as np

        Cm = np.array(cvecs, dtype="float64")
        c2 = (Cm * Cm).sum(axis=1)
        cell_ids = np.array(cells, dtype="int64")
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        vec_col: pdf[vec_col],
                        "cell": pd.Series([], dtype="int64"),
                        "probe_rank": pd.Series([], dtype="int32"),
                    }
                )
                continue
            X = np.array([list(v) for v in pdf[vec_col]], dtype="float64")
            d2 = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ Cm.T) + c2[None, :]
            if p == 1:
                idx = d2.argmin(axis=1)[:, None]
            else:
                idx = np.argsort(d2, axis=1, kind="stable")[:, :p]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(p),
                    vec_col: pdf[vec_col].to_numpy().repeat(p),
                    "cell": cell_ids[idx].reshape(-1),
                    "probe_rank": np.tile(
                        np.arange(1, p + 1, dtype="int32"), n
                    ),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, out_schema)


def ivf_probe_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "expr",
) -> DataFrame:
    """Each vector's ``nprobe`` nearest cells (query-side multi-probe).

    ``impl='expr'`` (default): same exploded exact-fold distances as
    :func:`ivf_assign`, ranked per vector by (distance, cell) — the
    deterministic tie-break the oracle mirrors — keeping
    ``probe_rank <= nprobe``. One window shuffle on the vector id.

    ``impl='pandas'`` (:func:`_probe_assign_pandas`): the BLAS twin —
    one matmul per Arrow batch with an in-batch stable top-``nprobe``,
    removing BOTH the interpreted |vectors|·|cells|·dim fold and the
    window shuffle (map-only), and skipping the centroid-literal plan
    parse (~0.4 s of driver build time at 45×64 measured). Same
    (dist, cell) tie-break; distances may differ from the fold by
    float ULPs exactly as :func:`ivf_assign` documents for the home
    cell — use 'expr' when an external oracle must reproduce the
    probe set on adversarially tie-heavy data.
    """
    if not centroids:
        raise ValueError("ivf_probe_assign requires at least one centroid")
    if impl == "pandas":
        return _probe_assign_pandas(df, centroids, nprobe, id_col, vec_col)
    if impl != "expr":
        raise ValueError(f"impl must be 'expr' or 'pandas', got {impl!r}")
    cells = F.expr(_centroid_sql(centroids))
    return _expr_assign(widen_small_scan(df), cells, id_col, vec_col, nprobe)


def ivf_topk(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "pandas",
    nprobe: int = 1,
    assign_impl: str = "expr",
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF all-pairs top-``k``: assign to cells, compare only within a
    cell, rank per vector. The recall/speed trade is the centroid count
    (more cells → smaller cells → faster, lower recall at boundaries);
    production multi-probe searches the ``nprobe`` nearest cells instead
    of one. Same plan shape as :func:`lsh_topk` with learned buckets.

    ``impl='pandas'`` (default) does the within-cell pairwise math as
    one numpy/BLAS matmul per cell inside ``applyInPandas``: each
    vector crosses the Arrow boundary ONCE per cell instead of once
    per candidate pair, and the |cell|² dot products run vectorized
    instead of as interpreted higher-order-function folds (measured
    ~2.4× on 2k×64d vectors, 16 cells). Cell ASSIGNMENT defaults to
    the exact sequential fold (``assign_impl='expr'``) — a 1-ULP
    assignment flip would change which pairs exist, while a 1-ULP
    similarity wobble is absorbed by the ROUND(...,4) the ranking runs
    on. At production cell counts pass ``assign_impl='pandas'``: the
    fold's |vectors|·|cells|·dim interpreted cost comes to dominate
    (measured ~¾ of query time at 64 cells × 200k vectors) and the
    BLAS assignment removes it; see :func:`ivf_assign`.
    ``impl='expr'`` keeps the pure column-expression path (the
    engine-portable twin of the DuckDB oracle).

    ``nprobe > 1`` searches each query's ``nprobe`` nearest cells
    instead of one (corpus membership stays single-cell) — the
    standard recall lever for vectors near cell boundaries, at
    ~nprobe× candidate volume. A neighbor lives in exactly one cell,
    so no dedup is needed and candidates from different cells re-rank
    in one per-query window. With ``impl='pandas'`` (default) the
    per-cell scoring runs as a COGROUPED BLAS matmul (probe
    assignments × cell members) emitting only each query's per-cell
    top-``k``; the expression spelling scored every candidate pair
    with the interpreted fold — |corpus|²·nprobe/|cells| pairs × dim
    — which the round-9 full-catalog stress run measured at 80× for
    10× data on the pinned-cell catalog query (the fold constant, not
    the candidate count, was the regression: the same pinned cells
    under BLAS track the flat path's slope).
    """
    if queries is not None and nprobe <= 1:
        raise ValueError(
            "queries= is only supported on the multi-probe (nprobe > 1) "
            "paths — the single-probe scoring is a per-cell self-join"
        )
    if impl not in ("pandas", "expr"):
        raise ValueError(f"impl must be 'pandas' or 'expr', got {impl!r}")
    b = ivf_assign(corpus, centroids, id_col, vec_col, impl=assign_impl)
    qsrc = queries if queries is not None else corpus
    if impl == "pandas":
        if nprobe <= 1:
            return _cell_topk(b, "cell", k, id_col, vec_col)
        # the scoring is the BLAS cogroup, so the probe side matches:
        # assignment ULP semantics identical to the home-cell BLAS
        # assignment this path pairs with
        q = ivf_probe_assign(
            qsrc, centroids, nprobe, id_col, vec_col, impl="pandas"
        )
        return _probe_topk(q, b, k, id_col, vec_col)
    a = b
    if nprobe > 1:
        a = ivf_probe_assign(qsrc, centroids, nprobe, id_col, vec_col)
    return _expr_topk(
        _side(a, id_col, vec_col, "query_id", "q", "cell"),
        _side(b, id_col, vec_col, "neighbor_id", "c", "cell"),
        k,
        on="cell",
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    impl: str = "pandas",
    max_exact: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, cos_sim)``
    with ``cos_sim ≥ threshold`` and ``id_a < id_b``.

    ``n_bits=None`` compares ALL pairs (exact — the |corpus|² baseline,
    QUADRATIC BY CONSTRUCTION, for modest corpora or oracle checks).
    With ``n_bits`` set, pairs are generated within sign-bit LSH
    buckets only (the scale path — candidate volume ÷ ~2^bits, recall
    approximate at boundaries; pair a bigger ``n_bits`` with
    multi-probe re-runs for coverage).

    The exact path's ``impl='pandas'`` (default) broadcasts the corpus
    matrix (declared driver bound ``max_exact`` rows, enforced by
    :func:`~tmdb_index_spark.operators.materialize.bounded_collect` —
    the "broadcast the small side" idiom; the exact baseline is
    size-bounded BY CONTRACT, the bucketed form is the unbounded
    path) and scores each Arrow batch against it as one BLAS matmul:
    N²·dim flops instead of N² interpreted 64-term folds. The round-9
    full-catalog stress run measured the fold spelling at 47× for 10×
    data — the quadratic candidate count is the baseline's documented
    shape, but the interpreted constant was not. ``impl='expr'`` keeps
    the fold spelling (the engine-portable oracle twin; the labelled
    cartesian below).
    """
    corpus = widen_small_scan(corpus)
    if n_bits is None and impl == "pandas":
        return _neardup_pairs_pandas(
            corpus, threshold, id_col, vec_col, max_exact
        )
    if impl not in ("pandas", "expr"):
        raise ValueError(f"impl must be 'pandas' or 'expr', got {impl!r}")
    key = None
    if n_bits is not None:
        corpus, key = signbit_buckets(corpus, n_bits, id_col, vec_col), "bucket"
    return _expr_pairs(corpus, id_col, vec_col, key).filter(
        F.col("cos_sim") >= threshold
    )


def _neardup_pairs_pandas(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    max_exact: int,
) -> DataFrame:
    """Exact all-pairs near-dup scoring as Arrow-batch × broadcast
    matrix BLAS. Each executor holds the (bounded) corpus matrix once;
    a batch of N_b rows costs one (N_b × N) matmul. Sims are rounded
    to 4 decimals before the threshold — the same contract as the
    fold spelling, whose ULP-level float differences the rounding
    absorbs. ``id_a < id_b`` keeps one orientation per pair and drops
    the diagonal."""
    import numpy as np
    import pandas as pd

    rows = bounded_collect(
        corpus.select(F.col(id_col), _as_double(vec_col).alias("__v__")),
        max_exact,
        "cosine_neardup_pairs exact corpus (use n_bits=... at scale)",
    )
    all_ids = np.array([r[0] for r in rows], dtype="int64")
    B = np.array([list(r[1]) for r in rows], dtype="float64")
    bn = np.sqrt((B * B).sum(axis=1))
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((all_ids, B, bn))

    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
        {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
    )

    def run(batches):
        cids, C, cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield empty
                continue
            aids = pdf[id_col].to_numpy(dtype="int64")
            A = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            an = np.sqrt((A * A).sum(axis=1))
            sims = np.round((A @ C.T) / np.outer(an, cn), 4)
            mask = (sims >= threshold) & (aids[:, None] < cids[None, :])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": aids[ai],
                    "id_b": cids[bi],
                    "cos_sim": sims[ai, bi],
                }
            )

    return corpus.select(
        F.col(id_col), _as_double(vec_col).alias(vec_col)
    ).mapInPandas(run, "id_a long, id_b long, cos_sim double")


def neardup_index_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_estimate: int | None = None,
    target_bucket: int = LSH_TARGET_BUCKET,
    dim: int | None = None,
) -> DataFrame:
    """Self-tuning bucketed near-dup pairs — the SCALE twin of
    :func:`cosine_neardup_pairs`' exact baseline.

    The exact all-pairs form is Θ(N²) by construction (the round-9
    stress sweep measures it at 22.9× for 10× data once the BLAS
    constant stops masking the shape — the labelled quadratic
    exhibit). Here the sign-bit bucket count tracks corpus size with
    :func:`lsh_index_topk`'s rule — ``bits = clamp(⌈log2(max(N, 2) /
    target_bucket)⌉, 1, dim)`` — pinning mean bucket occupancy (and
    per-vector candidate work) at ``target_bucket``, so total pair
    volume is ~N·target_bucket/2: linear, at the standard LSH recall
    trade (pairs straddling a bucket boundary are missed; raise
    ``target_bucket`` or re-run with rotated coordinates for
    coverage). The bit rule is a deterministic function of
    ``COUNT(*)``, so a SQL oracle reproduces the buckets — and
    therefore the emitted pair set — exactly.

    Pass ``n_estimate``/``dim`` when known to skip the count()/head()
    probe jobs.
    """
    if n_estimate is not None and n_estimate <= 0:
        raise ValueError(f"n_estimate must be positive, got {n_estimate}")
    n = _corpus_rowcount(corpus, n_estimate)
    n_bits = _signbit_bits(corpus, n, target_bucket, vec_col, dim)
    return cosine_neardup_pairs(
        corpus, threshold, id_col, vec_col, n_bits=n_bits
    )


#: SemDeDup occupancy target: the default cell count is
#: ``round(N / SEMANTIC_CELL_TARGET)``, holding expected per-cell
#: population — and the per-cell pairwise election matrix — constant
#: as the corpus grows (total dedup work Θ(N·target), linear). 128
#: keeps the per-cell gram matrix at ~128² doubles (128 KB), far under
#: one Arrow batch.
SEMANTIC_CELL_TARGET = 128

#: Above this many cells, flat nearest-centroid assignment
#: (Θ(N·cells·d)) dominates SemDeDup's runtime — the default routes
#: through the two-level quantizer (Θ(N·√cells·d)) instead. 1024 keeps
#: every sf-scale catalog fit on the flat path (oracle-stable) while
#: capping the flat matmul at ~1024·d per vector.
SEMANTIC_TWO_LEVEL_CELLS = 1024


def semantic_cells(n: int) -> int:
    """Occupancy-constant SemDeDup cell count for an ``n``-vector
    corpus — shared by :func:`semantic_dedup`, the corpus-prep
    composite, and every fitted-literal oracle builder so the two
    engines can never disagree on the fit's ``k``."""
    return max(1, round(n / SEMANTIC_CELL_TARGET))


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    cells: int | None = None,
    n_estimate: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
    seed: int = 13,
    impl: str = "pandas",
    two_level_cells: int = SEMANTIC_TWO_LEVEL_CELLS,
    probe_coarse: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, find cosine
    near-duplicates WITHIN each cluster only, and keep one
    representative per near-dup relation with a deterministic
    election. Returns ``(id_col, cell, keep)`` for EVERY input row —
    a row is dropped (``keep = false``) iff some SMALLER-id vector in
    its cell is ``≥ threshold`` similar (the first-occurrence rule
    this engine's segment dedup also uses; the paper's
    farthest-from-centroid election is a policy choice this
    deterministic variant replaces so an external SQL oracle can
    reproduce the flag set bit-for-bit).

    Scale shape: clustering bounds candidate generation to within-cell
    pairs — ``N²/cells`` comparisons instead of ``N²`` — and the
    default is OCCUPANCY-CONSTANT: ``cells = round(N /
    SEMANTIC_CELL_TARGET)`` holds expected cell size (and therefore
    the per-cell pairwise matrix) fixed as the corpus grows, making
    total election work Θ(N · target) = linear, the same self-tuning
    rule as :func:`lsh_index_topk`'s bit count. (The earlier
    ``cells = √N`` default — :func:`ivf_index_topk`'s balance point,
    which is right for QUERY-probing but leaves dedup work at Θ(N^1.5)
    — was flipped in round 10 per the round-9 verdict; SemDeDup
    production configs likewise grow k linearly with corpus size.)
    Recall is within-cell by construction: near-dups split across a
    cell boundary are missed — the documented SemDeDup trade.

    With ``cells ∝ N``, the ASSIGNMENT stage is the scale hazard the
    round-10 verdict called out: flat nearest-centroid assignment is
    Θ(N·cells·d) = Θ(N²·d/target), and the sampled k-means fit cannot
    supply more centroids than its ``max_sample`` rows at all (past
    N ≈ target·max_sample the old code silently clamped ``k`` and
    reverted election work toward Θ(N²/max_sample)). The default
    therefore picks the assignment flavor BY REGIME — all three feed
    the identical :func:`semantic_elect`:

    * ``cells ≤ two_level_cells`` (default 1024): flat
      :func:`fit_centroids` + :func:`ivf_assign` — map-only literal
      centroid table, BLAS above :data:`IVF_BLAS_ASSIGN_THRESHOLD`.
      This is the regime every fitted-literal oracle runs in, and its
      behavior is unchanged.
    * ``two_level_cells < cells ≤ max_sample``: hierarchical
      :func:`fit_two_level_centroids` + :func:`two_level_ivf_assign`
      with ``⌈√cells⌉`` coarse cells — assignment drops to
      Θ(N·√cells·d); ``probe_coarse`` is the boundary-recall lever.
    * ``cells > max_sample``: NO fit can supply that many centroids
      (``fit_centroids`` now raises rather than silently clamping) —
      switch to sign-bit LSH cells (:func:`signbit_buckets`, ``bits =
      clamp(⌈log2 cells⌉, 1, dim)``), the :func:`neardup_index_pairs`
      rule: fit-free, map-only Θ(N·bits) assignment, occupancy still
      ~``SEMANTIC_CELL_TARGET`` in expectation, so the policy stays
      linear at UNBOUNDED N. A loud warning records the regime switch
      (cell semantics change from learned clusters to hyperplane
      orthants; occupancy skew follows the data's sign-bit
      correlations).

    In the fitted regimes the fit is the deterministic sampled k-means
    of :func:`fit_centroids` (pure function of the first-
    ``max_sample``-by-id sample), so a SQL oracle re-runs the
    identical numpy fit and embeds the centroids as literals — the
    ``embedding_ivf_tuned_topk`` pattern; in the LSH regime the cell
    id is itself a column expression any engine reproduces.
    """
    n = _corpus_rowcount(corpus, n_estimate)
    if cells is None:
        cells = semantic_cells(n)
    assigned = semantic_assign(
        corpus,
        cells,
        n,
        id_col=id_col,
        vec_col=vec_col,
        max_sample=max_sample,
        seed=seed,
        two_level_cells=two_level_cells,
        probe_coarse=probe_coarse,
        dim=dim,
    )
    return semantic_elect(
        assigned, threshold, id_col=id_col, vec_col=vec_col, impl=impl
    )


def semantic_assign(
    corpus: DataFrame,
    cells: int,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
    seed: int = 13,
    two_level_cells: int = SEMANTIC_TWO_LEVEL_CELLS,
    probe_coarse: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """The regime-routing CELL ASSIGNMENT stage of :func:`semantic_dedup`
    (see its docstring for the three regimes and why), factored out so
    every SemDeDup election flavor — raw-vector :func:`semantic_elect`
    and code-payload :func:`semantic_elect_codes` — shares the exact
    same assignment policy. Returns ``(id_col, vec_col, cell)``."""
    if cells > max_sample:
        import warnings

        bits = _signbit_bits(corpus, cells, 1, vec_col, dim)
        warnings.warn(
            f"semantic_dedup: {cells} cells exceeds the k-means fit "
            f"sample cap ({max_sample}) — switching to sign-bit LSH "
            f"cells ({bits} bits, {2 ** bits} orthants). Cell "
            "semantics change from learned clusters to coordinate-"
            "sign orthants; raise max_sample to stay on k-means cells.",
            stacklevel=2,
        )
        return (
            signbit_buckets(corpus, bits, id_col, vec_col)
            .withColumnRenamed("bucket", "cell")
            .select(id_col, vec_col, "cell")
        )
    if cells > two_level_cells:
        coarse = max(1, math.isqrt(cells))
        coarse_c, fine_c, f2c = fit_two_level_centroids(
            corpus, cells, coarse, id_col, vec_col,
            max_sample=max_sample, seed=seed,
        )
        return two_level_ivf_assign(
            corpus, coarse_c, fine_c, f2c, id_col, vec_col,
            probe_coarse=probe_coarse,
        ).select(id_col, vec_col, "cell")
    centroids = fit_centroids(
        corpus, cells, id_col, vec_col, max_sample=max_sample, seed=seed
    )
    return ivf_assign(
        corpus, centroids, id_col, vec_col, impl=_assign_impl(n)
    ).select(id_col, vec_col, "cell")


def semantic_dedup_with_centroids(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "pandas",
    assign_impl: str = "expr",
) -> DataFrame:
    """:func:`semantic_dedup` with caller-fixed centroids (the
    oracle-checkable core). ``impl='pandas'`` (scale path) elects
    per cell inside one Arrow batch: ``applyInPandas`` over
    ``groupBy(cell)``, one BLAS gram matrix per cell, dropped = any
    column with a ``≥ threshold`` entry under a smaller id.
    ``impl='expr'`` is the engine-portable twin (within-cell self-join
    + fold cosine + distinct-dropped anti-flag) a SQL oracle mirrors
    line for line. Sims are rounded to 4 decimals before the
    threshold in BOTH impls — the family contract that absorbs
    BLAS-vs-fold ULP drift, so the two flag sets are identical."""
    assigned = ivf_assign(
        corpus, centroids, id_col, vec_col, impl=assign_impl
    ).select(id_col, vec_col, "cell")
    return semantic_elect(
        assigned, threshold, id_col=id_col, vec_col=vec_col, impl=impl
    )


def semantic_elect(
    assigned: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "pandas",
) -> DataFrame:
    """The within-cell first-occurrence election shared by EVERY
    SemDeDup assignment flavor (flat k-means cells, two-level
    quantizer cells, sign-bit LSH cells): given ``(id, vector, cell)``
    rows, flag ``keep = false`` iff some smaller-id vector in the same
    cell is ``≥ threshold`` cosine-similar (sims rounded to 4 decimals
    first — the family ULP contract). ``impl='pandas'`` elects per
    cell in one Arrow batch (BLAS gram matrix — election work is
    Θ(Σ occupancy²), so the ASSIGNMENT policy upstream is what holds
    occupancy, and therefore total work, bounded); ``impl='expr'`` is
    the engine-portable within-cell self-join twin a SQL oracle
    mirrors line for line."""
    if impl not in ("pandas", "expr"):
        raise ValueError(f"impl must be 'pandas' or 'expr', got {impl!r}")
    if impl == "expr":
        dropped = (
            _expr_pairs(assigned, id_col, vec_col, "cell")
            .filter(F.col("cos_sim") >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
            .withColumn("__drop__", F.lit(True))
        )
        return (
            assigned.join(dropped, id_col, "left")
            .select(
                id_col,
                "cell",
                F.coalesce(~F.col("__drop__"), F.lit(True)).alias("keep"),
            )
        )

    import pandas as pd

    def elect(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pdf[id_col].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        X = np.stack(pdf[vec_col].to_numpy()[order]).astype("float64")
        nrm = np.sqrt((X * X).sum(axis=1))
        sims = np.round((X @ X.T) / np.outer(nrm, nrm), 4)
        smaller = ids[:, None] < ids[None, :]
        dropped = ((sims >= threshold) & smaller).any(axis=0)
        return pd.DataFrame(
            {id_col: ids, "cell": pdf["cell"].iloc[0], "keep": ~dropped}
        )

    return (
        assigned.select(
            F.col(id_col), _as_double(vec_col).alias(vec_col), "cell"
        )
        .groupBy("cell")
        .applyInPandas(elect, f"{id_col} long, cell long, keep boolean")
    )


def lsh_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: bool = True,
    broadcast_queries: bool = True,
    exclude_self: bool = False,
    n_estimate: int | None = None,
    target_bucket: int = LSH_TARGET_BUCKET,
    dim: int | None = None,
) -> DataFrame:
    """Asymmetric ANN join: top-``k`` CORPUS neighbors for each row of a
    separate ``queries`` frame — the "label a query set against a big
    index" shape (retrieval eval, nearest-exemplar tagging), distinct
    from the all-pairs self-joins (:func:`lsh_topk`) where both sides
    are the corpus.

    Both sides bucket by the same sign-bit hyperplanes, so the join is
    a bucket equi-join: the corpus NEVER pairs beyond the query set's
    buckets. ``multi_probe=True`` (default here, unlike the self-join)
    expands only the query side to its 1-bit-flip buckets — with an
    asymmetric join the query set is the small side, so ×(1+n_bits)
    probe volume is cheap and buys the boundary recall a lone query
    vector otherwise loses. ``broadcast_queries=True`` ships the
    (probed) query side to every executor: the corpus is scanned
    map-side with NO shuffle at all — the right plan whenever
    |queries|·(1+n_bits) fits the broadcast threshold; flip it off and
    the join hash-partitions both sides on the bucket key instead.
    ``exclude_self`` drops identical-id pairs when the two frames share
    an id space (e.g. a labeled subset of the corpus itself).

    Returns ``(query_id, neighbor_id, cos_sim, rank)``; ties break on
    neighbor id. Queries whose probed buckets hold no corpus vector
    emit no rows (same recall contract as the self-join paths).

    ``n_bits=None`` self-tunes the bit count from the CORPUS size with
    :func:`lsh_index_topk`'s rule — ``bits = clamp(⌈log2(N /
    target_bucket)⌉, 1, dim)`` — holding mean bucket occupancy (and so
    per-query candidate work) constant as the corpus grows. A FIXED
    bit count is the measured scale failure mode for this join exactly
    as for the self-join (SCALE.md round 11: the pinned-8-bit catalog
    query ran 100× data in 50.6× time — N·N_q/2^bits candidate pairs
    with both factors growing); production callers should tune. Pass
    ``n_estimate``/``dim`` when known to skip the probe jobs.
    """
    if n_bits is None:
        n = _corpus_rowcount(corpus, n_estimate)
        n_bits = _signbit_bits(corpus, n, target_bucket, vec_col, dim)
    qb = _side(
        signbit_buckets(queries, n_bits, id_col, vec_col),
        id_col, vec_col, "query_id", "q", "bucket",
    )
    if multi_probe:
        qb = qb.withColumn("bucket", _flip_probes(n_bits))
    if broadcast_queries:
        qb = F.broadcast(qb)
    cb = _side(
        signbit_buckets(widen_small_scan(corpus), n_bits, id_col, vec_col),
        id_col, vec_col, "neighbor_id", "c", "bucket",
    )
    return _expr_topk(
        qb, cb, k, on="bucket", exclude_self=exclude_self, dedup=multi_probe
    )


def label_centroid_cosine(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-separation audit an embedding pipeline runs
    after training (labels whose centroids sit close are confusable;
    a centroid near zero means the label's members cancel out).

    Plan shape: centroids come from ``posexplode`` of the vectors
    into (label, position, value) and ONE partial-aggregated groupBy
    on that pair — cardinality |labels| × dim, tiny — so no vector
    ever moves whole through a shuffle and no driver collect happens.
    The pairwise comparison then runs on the |labels|-row centroid
    frame (self-join, ``label_a < label_b``) — quadratic only in the
    label count, which is the point of comparing centroids instead
    of members.

    Returns ``(label_a, label_b, n_a, n_b, cos_sim)`` rounded to
    ``decimals``.
    """
    pos = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(vec_col)).alias("pos", "val"),
    )
    cent = (
        pos.groupBy("label", "pos")
        .agg(F.sum("val").alias("__s__"), F.count(F.lit(1)).alias("__n__"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"), (F.col("__s__") / F.col("__n__")).alias("m")
                    )
                )
            ).alias("__cm__"),
            F.max("__n__").cast("bigint").alias("n_members"),
        )
        .select(
            "label",
            F.transform(F.col("__cm__"), lambda x: x["m"]).alias("centroid"),
            "n_members",
        )
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("centroid").alias("__va__"),
        F.col("n_members").alias("n_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("centroid").alias("__vb__"),
        F.col("n_members").alias("n_b"),
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            cosine(F.col("__va__"), F.col("__vb__"), decimals).alias(
                "cos_sim"
            ),
        )
    )

def fit_pca_array(X, n_components: int = 2):
    """Deterministic numpy PCA core on a raw ``(n, d)`` float64 array,
    exposed (like :func:`fit_kmeans_array`) so an external oracle
    builder reading the same parquet sample reproduces the EXACT fit
    without a SparkSession.

    Returns ``(mu, components, evr)``: the column means ``(d,)``, the
    top ``n_components`` eigenvectors of the covariance matrix as rows
    ``(k, d)`` in descending-eigenvalue order, and their explained-
    variance ratios ``(k,)``. Determinism: the fit is a pure function
    of the sample bytes (same LAPACK ``eigh`` on the same driver for
    both the operator and the oracle builder), and each component's
    sign is FIXED by convention — the entry of largest magnitude
    (first index on ties) is made positive — so re-runs and the
    oracle's re-fit agree bit-for-bit.
    """
    import numpy as np

    if n_components < 1:
        raise ValueError(f"n_components must be >= 1, got {n_components}")
    n, d = X.shape
    k = min(n_components, d)
    mu = X.mean(axis=0)
    Xc = X - mu
    C = (Xc.T @ Xc) / max(n, 1)
    vals, vecs = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for i in range(k):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(vals.sum())
    evr = [
        (float(vals[o]) / total) if total > 0 else 0.0 for o in order
    ]
    return mu, comps, evr


def fit_pca(
    df: DataFrame,
    n_components: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
):
    """Sampled deterministic PCA fit — the dimensionality-reduction
    sibling of :func:`fit_centroids`, with the identical scale story:
    production fits on a BOUNDED sample (first ``max_sample`` vectors
    by id, a stable engine-independent choice), the eigendecomposition
    runs driver-side in numpy on a (d, d) covariance — d-bounded, not
    N-bounded — and the fitted mean/components return as plain Python
    lists to be embedded as plan literals, so the projection itself is
    a map-only column expression over the full corpus. Returns
    ``(mu, components, evr)`` as lists.
    """
    X = _fit_sample(df, id_col, vec_col, max_sample, "fit_pca")
    mu, comps, evr = fit_pca_array(X, n_components)
    return mu.tolist(), [c.tolist() for c in comps], evr


def pca_projection_sql(
    mu: list[float],
    component: list[float],
    vec_sql: str,
    one_based: bool = False,
) -> str:
    """The UNROLLED projection expression ``sum_j (x_j - mu_j) * v_j``
    as a flat SQL string, shared verbatim by the Spark plan
    (``F.expr``, 0-based ``vec[j]``) and the DuckDB oracle
    (``one_based=True``, ``vec[j+1]``) so both engines evaluate the
    SAME left-associative float64 chain on the SAME ``repr`` literals
    — bit-identical results by construction, no float-sum ordering
    drift. Terms with ``v_j == 0.0`` still emit (expression shape is
    part of the parity contract). One flat string per component keeps
    plan construction at one analyzer round-trip (the round-9
    plan-build lesson), not 64 Column ops.
    """
    terms = []
    for j, (m, v) in enumerate(zip(mu, component)):
        idx = j + 1 if one_based else j
        terms.append(
            f"(CAST({vec_sql}[{idx}] AS DOUBLE) - {m!r}) * {v!r}"
        )
    return " + ".join(terms)


def fit_pq_array(
    X, m: int = 8, ks: int = 16, iters: int = 10, seed: int = 13
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace product-quantization codebooks (Jégou, Douze &
    Schmid 2011, "Product Quantization for Nearest Neighbor Search"):
    split the ``d`` dimensions into ``m`` contiguous subspaces of
    ``d/m`` each and run the SAME deterministic k-means core
    (:func:`fit_kmeans_array` — fixed seed, k-means++ init, ordered
    output ids) independently per subspace, so a vector's code word is
    ``m`` small integers and the codebook memory is ``m·ks·(d/m) =
    ks·d`` floats regardless of corpus size. Exposed on a raw float64
    array so the DuckDB oracle builder can reproduce the EXACT fitted
    codebooks from the same parquet sample — the fit is a pure
    function of (sample bytes, m, ks, iters, seed)."""
    import numpy as np

    X = np.asarray(X, dtype="float64")
    n, d = X.shape
    if m < 1 or d % m != 0:
        raise ValueError(f"dim {d} must divide into m={m} subspaces")
    if ks < 1:
        raise ValueError(f"ks must be >= 1, got {ks}")
    sub = d // m
    return [
        fit_kmeans_array(
            np.ascontiguousarray(X[:, j * sub : (j + 1) * sub]),
            min(ks, n),
            iters=iters,
            seed=seed,
        )
        for j in range(m)
    ]


def _codebook_arrays(codebooks):
    """(m, ks, sub) float64 codebook tensor + per-(sub, code) squared
    norms, rows in code-id order so numpy's first-minimum argmin equals
    the lower-code tie-break the oracle's (dist, code) ORDER BY uses."""
    import numpy as np

    books = [sorted(book, key=lambda cv: int(cv[0])) for book in codebooks]
    ks0 = len(books[0])
    if any(len(b) != ks0 for b in books):
        raise ValueError("per-subspace codebooks must be equally sized")
    CB = np.array(
        [[[float(x) for x in cv] for _, cv in book] for book in books],
        dtype="float64",
    )  # (m, ks, sub)
    return CB, (CB * CB).sum(axis=2)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("cell",),
) -> DataFrame:
    """Attach the PQ code word (``codes`` array<int>, one entry per
    subspace) to every vector: per subspace one BLAS matmul against the
    broadcast codebook per Arrow batch — the expanded-norm assignment
    of :func:`_probe_assign_pandas` applied ``m`` times on d/m-wide
    slices. Map-only, no shuffle; codes are 1–2 bytes per subspace at
    real ``ks`` so the encoded corpus is ~d·4/m× smaller than raw
    float32 vectors — the memory-compression half of PQ's value."""
    import pandas as pd

    CB, _ = _codebook_arrays(codebooks)
    m, ks, sub = CB.shape
    dtypes = dict(df.dtypes)
    keep = [c for c in keep_cols if c in dtypes]
    out_schema = ", ".join(
        [f"`{id_col}` {dtypes[id_col]}", f"`{vec_col}` {dtypes[vec_col]}"]
        + [f"`{c}` {dtypes[c]}" for c in keep]
        + ["codes array<int>"]
    )
    cols = [id_col, vec_col, *keep]

    def run(batches):
        import numpy as np

        c2 = (CB * CB).sum(axis=2)  # (m, ks)
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(codes=pd.Series([], dtype="object"))
                continue
            X = np.array([list(v) for v in pdf[vec_col]], dtype="float64")
            n = len(X)
            Xr = X.reshape(n, m, sub)
            codes = np.empty((n, m), dtype="int32")
            for j in range(m):
                Sj = Xr[:, j, :]
                d2 = (
                    (Sj * Sj).sum(axis=1)[:, None]
                    - 2.0 * (Sj @ CB[j].T)
                    + c2[j][None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            out = pdf[cols].copy()
            out["codes"] = list(codes.tolist())
            yield out

    return df.select(*cols).mapInPandas(run, out_schema)


def fit_pq(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
    iters: int = 10,
    seed: int = 13,
) -> list[list[tuple[int, list[float]]]]:
    """Deterministic sampled PQ codebook fit — :func:`fit_centroids`'
    bounded-sample recipe (first ``max_sample`` rows by id, one
    driver-side collect) feeding :func:`fit_pq_array`, so the fit is a
    pure function of (sample bytes, m, ks, iters, seed) and an external
    oracle builder reproduces the exact codebooks from the same parquet
    sample."""
    X = _fit_sample(df, id_col, vec_col, max_sample, "fit_pq")
    return fit_pq_array(X, m=m, ks=ks, iters=iters, seed=seed)


def semantic_elect_codes(
    coded: DataFrame,
    threshold: float,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    code_col: str = "codes",
) -> DataFrame:
    """:func:`semantic_elect` reading candidate vectors from PQ CODES
    only — symmetric distance computation (SDC, Jégou et al. 2011 §4):
    ``sim(a, b) = Σ_j D_j[code_j(a), code_j(b)] / (‖â‖·‖b̂‖)`` where
    ``D_j = CB_j·CB_jᵀ`` is the per-subspace centroid dot-product
    table and ``â`` the reconstruction — every pairwise score is m
    table lookups instead of d multiplies, and the frame crossing the
    per-cell shuffle carries ``(id, cell, codes)`` — m small ints —
    instead of the d-float vector (~16× smaller at d=64 float64,
    m=8; the FAISS memory story for dedup at 100 TB). Input rows:
    ``(id_col, cell, code_col)`` from :func:`pq_encode`. Flag
    semantics are identical to :func:`semantic_elect` up to
    quantization error: ``keep = false`` iff a smaller-id cell-mate's
    SDC cosine (rounded to 4 decimals — the family ULP contract)
    ``≥ threshold``; exact-duplicate vectors share a code word, score
    1.0, and always collapse. When the codebooks reconstruct the
    corpus exactly (every subvector is a codebook word, ``ks`` ≥
    distinct subvectors), the flag set EQUALS the raw election's —
    pinned by test."""
    import pandas as pd

    CB, cb_n2 = _codebook_arrays(codebooks)
    m, ks, sub = CB.shape
    # (m, ks, ks) SDC lookup tables + per-(sub, code) squared norms —
    # the only non-code state the election needs; broadcast in-closure.
    D = CB @ CB.transpose(0, 2, 1)

    def elect(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pdf[id_col].to_numpy(dtype="int64")
        order = np.argsort(ids)
        ids = ids[order]
        C = np.stack(pdf[code_col].to_numpy()[order]).astype("int64")
        # adot[a, b] = Σ_j D_j[C[a, j], C[b, j]] — m lookups per pair
        n = len(ids)
        adot = np.zeros((n, n), dtype="float64")
        for j in range(m):
            adot += D[j][C[:, j]][:, C[:, j]]
        nrm = np.sqrt(cb_n2[np.arange(m)[None, :], C].sum(axis=1))
        sims = np.round(adot / np.outer(nrm, nrm), 4)
        smaller = ids[:, None] < ids[None, :]
        dropped = ((sims >= threshold) & smaller).any(axis=0)
        return pd.DataFrame(
            {id_col: ids, "cell": pdf["cell"].iloc[0], "keep": ~dropped}
        )

    return (
        coded.select(F.col(id_col), F.col("cell"), F.col(code_col))
        .groupBy("cell")
        .applyInPandas(elect, f"{id_col} long, cell long, keep boolean")
    )


def semantic_dedup_pq(
    corpus: DataFrame,
    threshold: float = 0.9,
    cells: int | None = None,
    n_estimate: int | None = None,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
    seed: int = 13,
    two_level_cells: int = SEMANTIC_TWO_LEVEL_CELLS,
    probe_coarse: int = 1,
) -> DataFrame:
    """:func:`semantic_dedup` with a PRODUCT-QUANTIZED election
    payload: the same regime-routed cell assignment
    (:func:`semantic_assign` — occupancy-constant ``cells = N/128``),
    then each vector is PQ-encoded map-side (:func:`pq_encode`) and
    the raw vector column is DROPPED before the per-cell shuffle, so
    the only embedding bytes crossing the wire are the m-int code
    words (~16× smaller than d=64 float64) and the election scores
    pairs from the codes alone (:func:`semantic_elect_codes`). Both
    fits ride the one bounded sample recipe, so a SQL oracle
    reproduces centroids AND codebooks as literals — the
    ``embedding_pq_topk`` fitted-literal pattern. The trade is
    quantization error in the similarity (the SemDeDup paper's own
    production setting tolerates approximate sims — the cells are
    already approximate); the raw-payload twin is the exactness
    referent."""
    n = _corpus_rowcount(corpus, n_estimate)
    if cells is None:
        cells = semantic_cells(n)
    assigned = semantic_assign(
        corpus,
        cells,
        n,
        id_col=id_col,
        vec_col=vec_col,
        max_sample=max_sample,
        seed=seed,
        two_level_cells=two_level_cells,
        probe_coarse=probe_coarse,
    )
    books = fit_pq(
        corpus, m=m, ks=ks, id_col=id_col, vec_col=vec_col,
        max_sample=max_sample, seed=seed,
    )
    coded = pq_encode(assigned, books, id_col, vec_col).select(
        id_col, "cell", "codes"
    )
    return semantic_elect_codes(
        coded, threshold, books, id_col=id_col
    )


def ivfpq_topk(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "pandas",
    nprobe: int = 1,
    queries: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ top-``k`` self-join — the FAISS ``IVFPQ`` shape: IVF
    cells bound the candidate set (never all-pairs), PQ code words
    stand in for candidate vectors, and scoring is ADC (asymmetric
    distance computation): the query side stays EXACT while each
    candidate is approximated by its per-subspace codebook centroid,
    so one (m × ks) lookup table per query replaces full d-wide
    arithmetic per pair and the candidate set is readable from the
    ~32×-compressed codes alone.

    Approximate cosine: ``adc_sim(q, c) = Σ_j q_j·cb_j[code_j(c)] /
    (‖q‖ · √Σ_j ‖cb_j[code_j(c)]‖²)`` — both the dot and the candidate
    norm come only from the codes. Rounded to 4 decimals BEFORE
    ranking, ties on lower neighbor id (the family contract). Output:
    (query_id, neighbor_id, adc_sim, rank).

    100 TB shape: assignment + encoding are map-only BLAS passes; the
    only shuffle is the per-cell grouping. Candidate work is N²/cells
    like flat IVF (cells=√N keeps it Θ(N^1.5)) — PQ's contribution is
    the ~32× smaller candidate payload crossing that shuffle and the
    table-lookup scoring, not asymptotics.

    ``nprobe > 1`` (round 13) completes the ANN recall-lever matrix:
    each query additionally searches its ``nprobe`` nearest cells
    (:func:`ivf_probe_assign` BLAS impl — same (dist, cell) ranking
    the flat multi-probe oracle mirrors, distances ULP-equivalent to
    the fold like the home-cell assignment above) while candidate
    code words stay in their one home cell; scoring runs the
    cogrouped ADC pass (:func:`_probe_topk` with the PQ payload)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if queries is not None and nprobe <= 1:
        raise ValueError(
            "queries= is only supported on the multi-probe (nprobe > 1) "
            "path — the single-probe ADC scoring is a per-cell self-join"
        )
    books = _codebook_arrays(codebooks)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, impl=assign_impl)
    coded = pq_encode(assigned, codebooks, id_col, vec_col)
    if nprobe > 1:
        # BLAS probe side (the ADC scoring is already pandas); same
        # ULP class as the home-cell assignment above
        q = ivf_probe_assign(
            queries if queries is not None else corpus,
            centroids, nprobe, id_col, vec_col, impl="pandas",
        )
        return _probe_topk(q, coded, k, id_col, vec_col, books, "adc_sim")
    return _cell_topk(coded, "cell", k, id_col, vec_col, books, "adc_sim")


def ivfpq_index_topk(
    corpus: DataFrame,
    k: int = 3,
    m: int = 8,
    ks: int = 16,
    cells: int | None = None,
    n_estimate: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 10_000,
    seed: int = 13,
    nprobe: int = 1,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Self-tuning IVF-PQ: ``cells = round(√N)`` (the flat-IVF rule)
    plus per-subspace codebooks, BOTH fit from ONE bounded
    deterministic sample (first ``max_sample`` by id — one
    driver-side collect, never the corpus). The production entry
    point; catalog oracles reproduce the identical fits from the same
    parquet sample via the fitted-literal pattern."""
    n = _corpus_rowcount(corpus, n_estimate)
    if cells is None:
        cells = max(1, round(n ** 0.5))
    X = _fit_sample(corpus, id_col, vec_col, max_sample, "ivfpq_index_topk")
    centroids = fit_kmeans_array(X, cells, seed=seed)
    codebooks = fit_pq_array(X, m=m, ks=ks, seed=seed)
    return ivfpq_topk(
        corpus, centroids, codebooks, k=k,
        id_col=id_col, vec_col=vec_col, assign_impl=_assign_impl(n),
        nprobe=nprobe, queries=queries,
    )


def mmr_rerank(
    pool: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
    max_pool: int = 1024,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` results maximizing ``λ·rel(d) −
    (1−λ)·max_{s∈S} sim(d, s)`` — the classic search-result
    diversifier that trades relevance against redundancy with the
    already-selected set.

    ``pool`` must be the BOUNDED head of a retrieval ranking (e.g. a
    TakeOrderedAndProject top-N; ``max_pool`` declares and enforces
    the bound via :func:`bounded_collect`) — the production shape:
    reranking happens on the candidate head, never the corpus, and in
    real stacks it happens SERVICE-SIDE on that head. Execution is
    two engine jobs + pure-Python greedy accumulation:

    1. collect the pool (≤ ``max_pool`` rows, loud past the bound);
    2. ONE tiny in-engine job computes the |pool|² pairwise cosine
       matrix over the LITERALIZED pool rows — so every similarity is
       rounded by the ENGINE's ROUND (the family contract), never by
       Python's half-even ``round``;
    3. the k greedy steps run driver-side on those rounded inputs —
       each score is one IEEE-double multiply/subtract of
       engine-rounded values, bit-identical to what the SQL oracle
       computes, with the argmax on the UNROUNDED score (ties to the
       lower id) and the output score rounded IN-ENGINE in the final
       literal-frame select.

    The earlier all-in-engine forms measured 11.9 s (chained limit(1)
    subtrees re-evaluated exponentially) and ~10 s (k sequential
    argmax jobs — pure job-count overhead on 20-row frames) at sf0.1;
    this form is the pool job + ~1 s. Output: (rank, id, relevance,
    mmr_score), first pick's score = λ·rel. Fewer than ``k`` pool
    rows yield fewer rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 < lam <= 1.0:
        raise ValueError(f"lam must be in (0, 1], got {lam}")
    div_w = round(1.0 - lam, 10)
    spark = pool.sparkSession
    id_type = dict(pool.dtypes)[id_col]
    rows = bounded_collect(
        pool.select(id_col, rel_col, vec_col), max_pool, "MMR pool"
    )
    out_schema = (
        f"rank bigint, `{id_col}` {id_type}, relevance double, "
        "mmr_score double"
    )
    if not rows:
        return spark.createDataFrame([], out_schema)
    ids = [r[0] for r in rows]
    if len(set(ids)) != len(ids):
        raise ValueError(
            "MMR pool ids must be unique — duplicates would silently "
            "collapse in the relevance/similarity maps: "
            f"{sorted({i for i in ids if ids.count(i) > 1})}"
        )
    rel = {r[0]: float(r[1]) for r in rows}
    lit_pool = spark.createDataFrame(
        [(r[0], list(map(float, r[2]))) for r in rows],
        f"`{id_col}` {id_type}, `{vec_col}` array<double>",
    )
    a, b = lit_pool.alias("a"), lit_pool.alias("b")
    sim_rows = bounded_collect(
        a.join(
            F.broadcast(b), F.col(f"a.{id_col}") != F.col(f"b.{id_col}")
        ).select(
            F.col(f"a.{id_col}").alias("__da__"),
            F.col(f"b.{id_col}").alias("__db__"),
            cosine(
                F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")
            ).alias("__sim__"),
        ),
        max_pool * max_pool,
        "MMR pairwise sims",
    )
    # cosine() returns NULL for a zero-norm vector (0/0): treat that
    # pair as "no redundancy" (sim 0.0) rather than crashing on
    # float(None) — a zero vector is orthogonal-in-spirit to anything
    sim = {
        (r[0], r[1]): (0.0 if r[2] is None else float(r[2]))
        for r in sim_rows
    }
    # greedy on engine-rounded inputs: plain IEEE double arithmetic,
    # argmax on the unrounded score, ties to the lower id
    first = sorted(ids, key=lambda i: (-rel[i], i))[0]
    picks = [(1, first, rel[first], lam * rel[first])]
    selected = [first]
    while len(picks) < k and len(selected) < len(ids):
        best = None
        for i in ids:
            if i in selected:
                continue
            ms = max(sim[(i, s)] for s in selected)
            score = lam * rel[i] - div_w * ms
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        picks.append((len(picks) + 1, best[1], rel[best[1]], best[2]))
        selected.append(best[1])
    out = spark.createDataFrame(picks, out_schema)
    # output rounding stays IN-ENGINE (half-up), matching the oracle's
    # final ROUND — Python's half-even round never touches a score
    return out.select(
        "rank", id_col, "relevance",
        F.round(F.col("mmr_score"), 4).alias("mmr_score"),
    )


def pq_code_rows(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "expr",
) -> DataFrame:
    """``(id_col, cell, codes)`` for every vector — the map-only
    assign+encode projection :func:`pq_novelty_ids` consumes on each
    side.  Exposed (round 14) so the STANDING side of an incremental
    ingestion can persist these rows as a sidecar artifact bound to
    one model fingerprint and reuse them across batches, instead of
    re-encoding the whole index per batch (the semantic twin of
    ``dedup_text.minhash_band_buckets``).  Pure function of the
    embedding bytes and the model literals, so persisted and
    recomputed rows are interchangeable under the same fit."""
    return pq_encode(
        ivf_assign(emb, centroids, id_col, vec_col, impl=assign_impl),
        codebooks,
        id_col,
        vec_col,
    ).select(id_col, "cell", "codes")


def pq_novelty_ids(
    index_emb: DataFrame,
    batch_emb: DataFrame,
    threshold: float,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "expr",
    index_codes: DataFrame | None = None,
) -> DataFrame:
    """Batch ids whose embedding is a SEMANTIC duplicate of something
    already in the index — the :func:`~tmdb_index_spark.operators
    .dedup_text.minhash_novelty_pairs` shape applied to PQ codes
    (extension: incremental SemDeDup for ingestion).

    Both sides are cell-assigned (:func:`ivf_assign`, literal
    centroids, map-only) and PQ-encoded (:func:`pq_encode`, map-only);
    the batch's ``(id, cell, codes)`` rows BROADCAST and probe the
    index stream per cell, so the index side never shuffles — its
    vectors reduce to m-int code words map-side and only broadcast-
    join lookups touch them.  Pair scoring is symmetric-distance SDC
    (Jégou et al. 2011 §4) as a pure COLUMN EXPRESSION: the
    per-subspace centroid dot tables ``D_j = CB_j·CB_jᵀ`` and squared
    norms ride the plan as literal arrays, so each pair costs m
    ``element_at`` lookups — no Python, no shuffle, and a SQL oracle
    reproduces every score from the same literals.  Returns distinct
    ``(id_col)`` batch ids with rounded SDC cosine ≥ ``threshold``
    against ANY same-cell index vector.

    Zero-norm reconstructions (a vector whose codes all point at
    all-zero codebook centroids) are ALWAYS NOVEL by contract: the
    cosine denominator is guarded explicitly, so such a pair scores
    NULL and fails the threshold filter deliberately rather than via
    an accidental division result (round-12 advisor); the SQL oracle
    carries the identical guard.

    ``index_codes`` (round 14) short-circuits the index side's
    assign+encode with precomputed :func:`pq_code_rows` output —
    the persisted-sidecar path of the daily loop.  The caller owns
    the binding invariant: the rows MUST have been encoded under
    exactly ``centroids``/``codebooks`` (compare
    :func:`~tmdb_index_spark.operators.ann_store
    .ann_model_fingerprint` values — ``ingest_corpus_batch`` does),
    or the per-cell candidate sets silently diverge.
    """
    CB, cb_n2 = _codebook_arrays(codebooks)
    m, ks, sub = CB.shape
    D = CB @ CB.transpose(0, 2, 1)  # (m, ks, ks)

    idx = (
        index_codes
        if index_codes is not None
        else pq_code_rows(
            index_emb, centroids, codebooks, id_col, vec_col, assign_impl
        )
    ).select(
        F.col(id_col).alias("__iid__"), "cell", F.col("codes").alias("__ic__")
    )
    bat = pq_code_rows(
        batch_emb, centroids, codebooks, id_col, vec_col, assign_impl
    ).select(
        F.col(id_col).alias("__bid__"), "cell", F.col("codes").alias("__bc__")
    )

    # one generated SQL string per table, NOT F.array(*[F.lit(x) ...]):
    # the latter is one py4j round-trip per element — m·ks² = 2048
    # doubles at (8, 16) was the measured majority of this builder's
    # driver time (the _centroid_sql lesson; %rD round-trips each
    # double bit-exactly, so plan literals are unchanged)
    d_lits = [
        F.expr(
            "array(%s)"
            % ",".join("%rD" % float(x) for x in D[j].reshape(-1))
        )
        for j in range(m)
    ]
    n_lits = [
        F.expr(
            "array(%s)" % ",".join("%rD" % float(x) for x in cb_n2[j])
        )
        for j in range(m)
    ]
    adot = None
    na2 = None
    nb2 = None
    for j in range(m):
        ca = F.element_at(F.col("__ic__"), j + 1)
        cb = F.element_at(F.col("__bc__"), j + 1)
        term = F.element_at(d_lits[j], ca * ks + cb + 1)
        ta = F.element_at(n_lits[j], ca + 1)
        tb = F.element_at(n_lits[j], cb + 1)
        adot = term if adot is None else adot + term
        na2 = ta if na2 is None else na2 + ta
        nb2 = tb if nb2 is None else nb2 + tb
    sim = F.when(
        (na2 > F.lit(0.0)) & (nb2 > F.lit(0.0)),
        F.round(adot / (F.sqrt(na2) * F.sqrt(nb2)), 4),
    )
    return (
        idx.join(F.broadcast(bat), "cell")
        .filter(sim >= F.lit(threshold))
        .select(F.col("__bid__").alias(id_col))
        .distinct()
    )
