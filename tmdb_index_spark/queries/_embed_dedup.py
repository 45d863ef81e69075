"""Catalog part _embed_dedup (mechanical split of queries.py; see __init__)."""

from __future__ import annotations

from tmdb_index_spark.queries._shared import (  # noqa: E501
    DataFrame,
    F,
    LANG_MARKERS,
    SparkSession,
    brute_force_topk,
    dedup_exact,
    lsh_topk,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from tmdb_index_spark.queries._surface import (  # noqa: E501
    _dec,
    _events,
    _t,
)

def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup groups over documents (extension: exact
    dedup)."""
    return dedup_exact(_t(spark, sf_dir, "documents"))


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""

# Shared DuckDB CTE: tokenized docs and distinct word-3-gram shingles.
_DUCK_SHINGLES = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(ts)-2, 0)),
                                      i -> array_to_string(list_slice(ts, i, i+2), ' '))) AS shs
  FROM t
)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs ≥ 0.1 (extension: n-gram
    Jaccard dedup) via the inverted shingle index."""
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, max_df=1000
    )


def _ngram_jaccard_sql(threshold: float, max_df: int | None = None) -> str:
    """Oracle for the Jaccard pair operators. ``max_df`` mirrors the
    operator's skew guard EXACTLY: shingles in more than ``max_df``
    docs are excluded from intersection counts while denominators stay
    the true pre-filter set sizes — so the oracle stays equivalent at
    corpus scales where the guard actually fires, not just where it's
    vacuous."""
    if max_df is None:
        ex_filtered = "ex"
        df_cte = ""
    else:
        df_cte = f""", sdf AS (
  SELECT s, COUNT(*) AS df FROM ex GROUP BY 1
), exf AS (
  SELECT e.doc_id, e.s FROM ex e JOIN sdf USING (s) WHERE sdf.df <= {max_df}
)"""
        ex_filtered = "exf"
    return (
        _DUCK_SHINGLES
        + f""", ex AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
){df_cte}, inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
  FROM {ex_filtered} a JOIN {ex_filtered} b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE ROUND(c * 1.0 / (na.n + nb.n - c), 4) >= {threshold}
"""
    )


_NGRAM_JACCARD_SQL = _ngram_jaccard_sql(0.1, max_df=1000)


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin/All-Pairs prefix-filtered exact Jaccard at t=0.5
    (extension: the candidate-pruning scale path; identical result set
    to the inverted-index operator, verified against the same plain
    SQL oracle)."""
    from tmdb_index_spark.operators.dedup_text import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), threshold=0.5
    )


_JACCARD_PREFIX_SQL = _ngram_jaccard_sql(0.5)


def minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signatures, 8 hashes (extension: MinHash). Pure
    map stage — no shuffle."""
    return minhash_signatures(_t(spark, sf_dir, "documents"), num_hashes=8)


def _minhash_expr(i: int) -> str:
    from tmdb_index_spark.operators.dedup_text import (
        MINHASH_P,
        _minhash_a,
        _minhash_b,
    )

    base = "(('0x' || substr(md5(s), 1, 15))::BIGINT % {p})".format(p=MINHASH_P)
    return (
        f"list_min(list_transform(shs, s -> "
        f"({base} * {_minhash_a(i)} + {_minhash_b(i)}) % {MINHASH_P}))"
    )


_MINHASH_SQL = (
    _DUCK_SHINGLES
    + "SELECT doc_id, "
    + ", ".join(f"{_minhash_expr(i)} AS minhash_{i}" for i in range(8))
    + " FROM sh"
)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (extension: MinHash+LSH): banded
    buckets generate candidates, exact Jaccard ≥ 0.5 verifies."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        threshold=0.5,
    )


_MINHASH_LSH_SQL = (
    _DUCK_SHINGLES
    + """, sig AS (
  SELECT doc_id, """
    + ", ".join(f"{_minhash_expr(i)} AS mh{i}" for i in range(16))
    + """ FROM sh
), buckets AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN concat_ws(',', mh0, mh1, mh2, mh3)
           WHEN 1 THEN concat_ws(',', mh4, mh5, mh6, mh7)
           WHEN 2 THEN concat_ws(',', mh8, mh9, mh10, mh11)
           ELSE concat_ws(',', mh12, mh13, mh14, mh15)
         END AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
), ex AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS c
  FROM cand c
  JOIN ex a ON a.doc_id = c.id_a
  JOIN ex b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(c * 1.0 / (na.n + nb.n - c), 4) AS jaccard
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE ROUND(c * 1.0 / (na.n + nb.n - c), 4) >= 0.5
"""
)


def incremental_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion novelty audit (extension: the batch-vs-
    index complement of `dedup_minhash_lsh` — production dedup is
    INCREMENTAL: a new batch arrives and the question is how much of it
    duplicates the already-indexed corpus, never re-pairing the index
    against itself): batch = docs with ``doc_id % 7 == 3``, index = the
    rest; `operators/dedup_text.py: minhash_novelty_pairs` generates
    strictly batch x index candidates with the batch's band buckets
    BROADCAST (the index never shuffles for candidate generation),
    verifies with exact Jaccard >= 0.5, and the rollup reports each
    source's batch size, duplicate count, and novel-content rate — the
    number an ingestion pipeline alarms on when a crawl source starts
    re-sending old content."""
    from tmdb_index_spark.operators.dedup_text import minhash_novelty_pairs

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    index = docs.filter(F.col("doc_id") % 7 != 3)
    pairs = minhash_novelty_pairs(
        index, batch, num_hashes=16, bands=4, threshold=0.5
    )
    dup = pairs.select(F.col("batch_id").alias("doc_id")).distinct()
    flagged = batch.select("doc_id", "source").join(
        dup.withColumn("__dup__", F.lit(1)), "doc_id", "left"
    )
    n = F.count(F.lit(1))
    n_dup = F.sum(F.coalesce(F.col("__dup__"), F.lit(0)))
    return flagged.groupBy("source").agg(
        n.cast("long").alias("n_batch"),
        n_dup.cast("long").alias("n_dup"),
        F.round(
            F.lit(1.0) - n_dup.cast("double") / n.cast("double"), 4
        ).alias("novel_rate"),
    )


_NOVELTY_SQL = (
    _DUCK_SHINGLES
    + """, sig AS (
  SELECT doc_id, """
    + ", ".join(f"{_minhash_expr(i)} AS mh{i}" for i in range(16))
    + """ FROM sh
), buckets AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN concat_ws(',', mh0, mh1, mh2, mh3)
           WHEN 1 THEN concat_ws(',', mh4, mh5, mh6, mh7)
           WHEN 2 THEN concat_ws(',', mh8, mh9, mh10, mh11)
           ELSE concat_ws(',', mh12, mh13, mh14, mh15)
         END AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
  WHERE mh0 IS NOT NULL
), cand AS (
  SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS index_id
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
  WHERE b.doc_id % 7 = 3 AND a.doc_id % 7 <> 3
), ex AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
), inter AS (
  SELECT c.batch_id, c.index_id, COUNT(*) AS c
  FROM cand c
  JOIN ex a ON a.doc_id = c.batch_id
  JOIN ex b ON b.doc_id = c.index_id AND b.s = a.s
  GROUP BY 1, 2
), dup AS (
  SELECT DISTINCT batch_id
  FROM inter
  JOIN sizes na ON batch_id = na.doc_id
  JOIN sizes nb ON index_id = nb.doc_id
  WHERE ROUND(c * 1.0 / (na.n + nb.n - c), 4) >= 0.5
)
SELECT d.source,
       COUNT(*)::BIGINT AS n_batch,
       SUM(CASE WHEN dup.batch_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_dup,
       ROUND(1.0 - SUM(CASE WHEN dup.batch_id IS NOT NULL THEN 1 ELSE 0
                       END) * 1.0 / COUNT(*), 4) AS novel_rate
FROM documents d LEFT JOIN dup ON d.doc_id = dup.batch_id
WHERE d.doc_id % 7 = 3
GROUP BY d.source
"""
)


def corpus_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus-ingestion yield (extension: the reference's
    defining daily-maintenance shape — ``process()`` folds each day's
    changes into the standing index, ``tmdb_index.py:546-568`` —
    applied to corpus dedup; round-10 verdict #3): batch = docs with
    ``doc_id % 7 == 3``, index = the rest;
    :func:`~tmdb_index_spark.operators.corpus_pipeline
    .ingest_corpus_batch` runs exact-within-batch dedup, exact-vs-
    index hash anti-join, MinHash-LSH near-dup vs the index (batch
    buckets broadcast, index never shuffles for candidates), and
    upserts the survivors. This query reports the per-source fate
    rollup — batch size, each drop stage's count, kept count and
    rate."""
    from tmdb_index_spark.operators.corpus_pipeline import (
        ingest_corpus_batch,
    )

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    index = docs.filter(F.col("doc_id") % 7 != 3)
    return ingest_corpus_batch(index, batch)["stats"]


#: stages 1-3 of the ingest oracle (shingles → minhash bands → exact
#: within-batch → exact-vs-index → near-vs-index) — shared between the
#: plain `_INGEST_SQL` and the round-12 semantic variant, which appends
#: the PQ-coded SDC novelty stage before the label rollup.
_INGEST_STAGES_SQL = (
    _DUCK_SHINGLES
    + """, sig AS (
  SELECT doc_id, """
    + ", ".join(f"{_minhash_expr(i)} AS mh{i}" for i in range(16))
    + """ FROM sh
), buckets AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN concat_ws(',', mh0, mh1, mh2, mh3)
           WHEN 1 THEN concat_ws(',', mh4, mh5, mh6, mh7)
           WHEN 2 THEN concat_ws(',', mh8, mh9, mh10, mh11)
           ELSE concat_ws(',', mh12, mh13, mh14, mh15)
         END AS key
  FROM sig, (SELECT UNNEST(generate_series(0, 3)) AS band) b
  WHERE mh0 IS NOT NULL
), b0 AS (
  SELECT doc_id, source, md5(coalesce(text, '')) AS h
  FROM documents WHERE doc_id % 7 = 3
), idxh AS (
  SELECT DISTINCT md5(coalesce(text, '')) AS h
  FROM documents WHERE doc_id % 7 <> 3
), r1 AS (
  SELECT doc_id, source, h,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM b0
), s1 AS (SELECT doc_id, source, h FROM r1 WHERE rn = 1
), s2 AS (SELECT s1.* FROM s1 WHERE h NOT IN (SELECT h FROM idxh)
), cand AS (
  SELECT DISTINCT b.doc_id AS batch_id, a.doc_id AS index_id
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % 7 <> 3 AND b.doc_id IN (SELECT doc_id FROM s2)
), ex AS (
  SELECT doc_id, UNNEST(shs) AS s FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
), inter AS (
  SELECT c.batch_id, c.index_id, COUNT(*) AS c
  FROM cand c
  JOIN ex a ON a.doc_id = c.batch_id
  JOIN ex b ON b.doc_id = c.index_id AND b.s = a.s
  GROUP BY 1, 2
), dup AS (
  SELECT DISTINCT batch_id
  FROM inter
  JOIN sizes na ON batch_id = na.doc_id
  JOIN sizes nb ON index_id = nb.doc_id
  WHERE ROUND(c * 1.0 / (na.n + nb.n - c), 4) >= 0.5
)"""
)

_INGEST_SQL = (
    _INGEST_STAGES_SQL
    + """, lab AS (
  SELECT b0.doc_id, b0.source,
         s1.doc_id IS NOT NULL AS in1,
         s2.doc_id IS NOT NULL AS in2,
         (s2.doc_id IS NOT NULL AND dup.batch_id IS NULL) AS in3
  FROM b0
  LEFT JOIN s1 ON b0.doc_id = s1.doc_id
  LEFT JOIN s2 ON b0.doc_id = s2.doc_id
  LEFT JOIN dup ON b0.doc_id = dup.batch_id
)
SELECT source,
       COUNT(*)::BIGINT AS n_batch,
       SUM(CASE WHEN NOT in1 THEN 1 ELSE 0 END)::BIGINT
         AS n_exact_batch_dup,
       SUM(CASE WHEN in1 AND NOT in2 THEN 1 ELSE 0 END)::BIGINT
         AS n_exact_index_dup,
       SUM(CASE WHEN in2 AND NOT in3 THEN 1 ELSE 0 END)::BIGINT
         AS n_near_index_dup,
       SUM(CASE WHEN in3 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       ROUND(SUM(CASE WHEN in3 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4)
         AS kept_rate
FROM lab GROUP BY source
"""
)


def corpus_ingest_semantic_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental ingestion WITH the semantic novelty stage (round
    12, extension: incremental SemDeDup): the ``corpus_ingest_stats``
    composite plus stage 3b — MinHash survivors whose embedding is a
    PQ-coded SDC cosine ≥ 0.4 of any same-cell index vector also drop
    (the paraphrase-grade rewrites token MinHash admits).  Centroids
    and PQ codebooks fit on the INDEX side's bounded deterministic
    sample; both sides assign + encode map-only, the batch codes
    broadcast, the index never shuffles
    (:func:`~tmdb_index_spark.operators.similarity.pq_novelty_ids`).
    The oracle re-runs both fits and extends the static ingest SQL
    with the literal-table SDC stage
    (:func:`_fitted_ingest_semantic_oracle_sql`).  Adds
    ``n_semantic_index_dup`` to the yield row."""
    from tmdb_index_spark.operators.corpus_pipeline import (
        ingest_corpus_batch,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    index = docs.filter(F.col("doc_id") % 7 != 3)
    return ingest_corpus_batch(
        index,
        batch,
        embeddings=emb,
        semantic_threshold=0.4,
    )["stats"]


def _fitted_ingest_semantic_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``corpus_ingest_semantic_stats``: stages
    1-3 reuse the static ingest SQL verbatim
    (:data:`_INGEST_STAGES_SQL`); stage 3b re-runs the centroid + PQ
    codebook fits outside Spark on the SAME index-side sample (the
    :func:`_fitted_semantic_pq_oracle_sql` recipe, restricted to
    ``embeddings ⋈ index docs``), embeds both as literals, and scores
    batch-survivor × same-cell index pairs by SDC (codebook×codebook
    dot join — every similarity is m lookups, the engine's shape)."""
    fit = _oracle_fit(
        sf_dir,
        _semantic_flat_cells,
        pq=True,
        rel_sql="SELECT e.vec_id, e.embedding "
        f"FROM '{sf_dir}/embeddings.parquet' e "
        f"JOIN '{sf_dir}/documents.parquet' d ON e.vec_id = d.doc_id "
        "WHERE d.doc_id % 7 <> 3",
    )
    if fit is None:
        return None
    dim, cents, books = fit
    sub = dim // 8
    return (
        _INGEST_STAGES_SQL
        + f""", s3ids AS (
  SELECT s2.doc_id FROM s2 LEFT JOIN dup ON s2.doc_id = dup.batch_id
  WHERE dup.batch_id IS NULL
), iv AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v
  FROM embeddings e JOIN documents d2 ON e.vec_id = d2.doc_id
  WHERE d2.doc_id % 7 <> 3
), bv AS (
  SELECT e.vec_id, e.embedding::DOUBLE[] AS v
  FROM embeddings e JOIN s3ids s ON e.vec_id = s.doc_id
),
{_values_cte("cent", "cell, cv", cents)},
{_assign_sql(dim, "ai", "iv CROSS JOIN cent")},
{_assign_sql(dim, "ab", "bv CROSS JOIN cent")},
{_codebook_sql(books)},
{_pq_encode_sql(sub, "ai")},
{_pq_encode_sql(sub, "ab")},
{_sdc_pairs_sql(sub, "ai", "ab", "", 0.4)},
lab AS (
  SELECT b0.doc_id, b0.source,
         s1.doc_id IS NOT NULL AS in1,
         s2.doc_id IS NOT NULL AS in2,
         (s2.doc_id IS NOT NULL AND dup.batch_id IS NULL) AS in3,
         (s2.doc_id IS NOT NULL AND dup.batch_id IS NULL
          AND semdup.doc_id IS NULL) AS in4
  FROM b0
  LEFT JOIN s1 ON b0.doc_id = s1.doc_id
  LEFT JOIN s2 ON b0.doc_id = s2.doc_id
  LEFT JOIN dup ON b0.doc_id = dup.batch_id
  LEFT JOIN (SELECT DISTINCT id_b AS doc_id FROM sdc_pairs) semdup
    ON b0.doc_id = semdup.doc_id
)
SELECT source,
       COUNT(*)::BIGINT AS n_batch,
       SUM(CASE WHEN NOT in1 THEN 1 ELSE 0 END)::BIGINT
         AS n_exact_batch_dup,
       SUM(CASE WHEN in1 AND NOT in2 THEN 1 ELSE 0 END)::BIGINT
         AS n_exact_index_dup,
       SUM(CASE WHEN in2 AND NOT in3 THEN 1 ELSE 0 END)::BIGINT
         AS n_near_index_dup,
       SUM(CASE WHEN in3 AND NOT in4 THEN 1 ELSE 0 END)::BIGINT
         AS n_semantic_index_dup,
       SUM(CASE WHEN in4 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       ROUND(SUM(CASE WHEN in4 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4)
         AS kept_rate
FROM lab GROUP BY source
"""
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash fingerprints (extension: SimHash)."""
    return simhash64(_t(spark, sf_dir, "documents"))


_SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts
  FROM documents
), hs AS (
  SELECT doc_id,
         list_transform(ts, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hh,
         len(ts) AS n_tokens
  FROM toks
), votes AS (
  SELECT doc_id, n_tokens,
         list_transform(generate_series(0, 59),
           b -> list_sum(list_transform(hh,
                  h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)))
           AS v
  FROM hs
)
SELECT doc_id,
       list_sum(list_transform(generate_series(0, 59),
         b -> CASE WHEN v[b+1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT
         AS simhash,
       n_tokens::BIGINT AS n_tokens
FROM votes
"""


def simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming ≤ 2 (extension: SimHash pair
    search with pigeonhole-block candidate generation)."""
    from tmdb_index_spark.operators.dedup_text import simhash_neardup_pairs

    return simhash_neardup_pairs(_t(spark, sf_dir, "documents"), max_hamming=2)


# Pigeonhole blocks for max_hamming=2 → 3 blocks of 20 bits over the
# 60-bit fingerprint; offsets derived identically to the Spark side.
def _simhash_block_sql() -> str:
    max_hamming = 2
    n_blocks = max_hamming + 1
    bits = 60
    base = bits // n_blocks
    sizes = [base + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(sizes[:i]) for i in range(n_blocks)]
    block_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS blk, "
        f"(simhash >> {offsets[i]}) & {(1 << sizes[i]) - 1} AS val FROM sig"
        for i in range(n_blocks)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS ts
  FROM documents
), hs AS (
  SELECT doc_id, list_transform(ts, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hh
  FROM toks
), votes AS (
  SELECT doc_id,
         list_transform(generate_series(0, 59),
           b -> list_sum(list_transform(hh,
                  h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END))) AS v
  FROM hs
), sig AS (
  SELECT doc_id,
         list_sum(list_transform(generate_series(0, 59),
           b -> CASE WHEN v[b+1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT
           AS simhash
  FROM votes WHERE v IS NOT NULL
), blocks AS ({block_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.val = b.val
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
"""


_SIMHASH_NEARDUP_SQL = _simhash_block_sql()


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for the first 10 vectors
    (extension: similarity-search baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


_COS_SQL = (
    "ROUND(list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i])) / "
    "(sqrt(list_sum(list_transform(q.v, x -> x * x))) * "
    "sqrt(list_sum(list_transform(c.v, x -> x * x)))), 4)"
)

_EMB_TOPK_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
  FROM (SELECT * FROM v WHERE vec_id < 10) q
  CROSS JOIN v c
  WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= 5
"""


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH-bucketed approximate all-pairs top-3 (extension:
    similarity-search scale path)."""
    return lsh_topk(_t(spark, sf_dir, "embeddings"), k=3, n_bits=6)


_EMB_LSH_SQL = f"""
WITH v AS (
  SELECT vec_id, v,
         list_sum(list_transform(generate_series(0, 5),
           i -> CASE WHEN v[i+1] >= 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
  FROM v q JOIN v c ON q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= 3
"""


def embedding_lsh_tuned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuned LSH top-3: the production ANN entry point
    (:func:`~tmdb_index_spark.operators.similarity.lsh_index_topk`)
    with the bit count derived from the corpus row count —
    ``bits = clamp(ceil(log2(N / 32)), 1, dim)`` — so mean bucket
    occupancy (and therefore within-bucket scoring work per vector)
    stays constant as N grows. The fixed-bits twin above
    (``embedding_lsh_topk``) is the measured scale failure mode
    (SCALE.md: 10x data at 8 fixed bits -> 64.9x time); this query is
    the certified fix. The bit formula is a deterministic function of
    ``COUNT(*)``, so the DuckDB oracle computes the identical bucket
    ids (extension: similarity-search scale path)."""
    from tmdb_index_spark.operators.similarity import lsh_index_topk

    return lsh_index_topk(_t(spark, sf_dir, "embeddings"), k=3)


# Oracle mirror of lsh_index_topk's tuning rule (similarity.py):
#   bits = min(max(1, ceil(log2(max(N, 2) / target_bucket))), dim)
# with target_bucket=32 and dim=64. Both engines evaluate the same
# IEEE-double division and log2, so the computed bit count — and hence
# every bucket id — is identical.
_EMB_LSH_TUNED_SQL = f"""
WITH p AS (
  SELECT LEAST(GREATEST(1, CAST(CEIL(LOG2(GREATEST(COUNT(*), 2) / 32.0)) AS BIGINT)), 64) AS nb
  FROM embeddings
),
v AS (
  SELECT vec_id, v,
         list_sum(list_transform(generate_series(0, (SELECT nb FROM p) - 1),
           i -> CASE WHEN v[i+1] >= 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
  FROM v q JOIN v c ON q.bucket = c.bucket
  WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Fitted-literal oracle helpers. Each DYNAMIC_ORACLE_BUILDERS entry reads
# the engine's bounded fit sample, re-runs the shared numpy fit on it and
# embeds the fit as VALUES literals in plain SQL built from these parts.
# ---------------------------------------------------------------------------

_V_CTE = "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"


def _oracle_sample(sf_dir: str, rel_sql: str | None = None):
    """``(n, X)``: the row count of the relation ``rel_sql`` (default:
    the embeddings table) and the engine's fit sample from it — the
    first 10,000 embeddings by ``vec_id`` as a float64 matrix.  None
    when the relation is empty or a table file is missing (the query
    then stays rows-only); any other error propagates."""
    import duckdb
    import numpy as np

    rel = f"({rel_sql})" if rel_sql else f"'{sf_dir}/embeddings.parquet'"
    with duckdb.connect() as con:
        try:
            n = con.sql(f"SELECT COUNT(*) FROM {rel}").fetchone()[0]
        except duckdb.IOException:  # no file matches the table path
            return None
        if not n:
            return None
        rows = con.sql(
            f"SELECT embedding FROM {rel} ORDER BY vec_id LIMIT 10000"
        ).fetchall()
    return n, np.array([list(r[0]) for r in rows], dtype="float64")


def _values_cte(name: str, cols: str, rows) -> str:
    """CTE ``name(cols)`` over literal rows, one per line.  A vector
    cell (a fitted centroid or code word) spells each coordinate as
    ``repr(float)``, the exact float64 the fit produced; a str cell is
    quoted; any other cell is written as ``str``."""

    def cell(x) -> str:
        if isinstance(x, str):
            return f"'{x}'"
        if hasattr(x, "__len__"):
            return "[{}]".format(", ".join(repr(float(c)) for c in x))
        return str(x)

    body = ",\n    ".join(
        "({})".format(", ".join(map(cell, row))) for row in rows
    )
    return f"{name} AS (SELECT * FROM (VALUES\n    {body}\n) AS t({cols}))"


def _assign_sql(
    dim: int, name: str = "assigned", pairs: str = "v CROSS JOIN cent"
) -> str:
    """Nearest-centroid CTEs over ``pairs`` (columns ``vec_id, v`` and
    ``cell, cv``): ``{name}_ranked`` ranks each vector's cells by
    (squared distance, cell) — the operator's argmin tie-break — and
    ``{name}`` keeps each vector's home cell.  A multi-probe query side
    reads ``{name}_ranked WHERE rn <= nprobe``."""
    return f"""{name}_ranked AS (
  SELECT vec_id, v, CAST(cell AS BIGINT) AS cell,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, cell ASC) AS rn
  FROM (
    SELECT vec_id, v, cell,
           list_sum(list_transform(generate_series(1, {dim}),
             i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS dist
    FROM {pairs}
  )
),
{name} AS (SELECT vec_id, v, cell FROM {name}_ranked WHERE rn = 1)"""


def _codebook_sql(books) -> str:
    """The PQ codebooks as literal table ``cb(sub, code, cbv)`` plus
    each code word's squared norm ``cbn(sub, code, n2)``."""
    rows = [
        (j, code, vec) for j, book in enumerate(books) for code, vec in book
    ]
    return f"""{_values_cte("cb", "sub, code, cbv", rows)},
cbn AS (SELECT sub, code,
               list_sum(list_transform(cbv, x -> x * x)) AS n2 FROM cb)"""


def _pq_encode_sql(sub: int, src: str = "assigned") -> str:
    """PQ-encode CTEs over ``src(vec_id, v)``: ``{src}_codes(vec_id,
    sub, code)``, each subvector's nearest code word by (squared
    distance, code), and ``{src}_norm(vec_id, nrm)``, the norm of the
    decoded vector."""
    return f"""{src}_cdist AS (
  SELECT a.vec_id, cb.sub, cb.code,
         list_sum(list_transform(generate_series(1, {sub}),
           i -> (a.v[cb.sub * {sub} + i] - cb.cbv[i])
              * (a.v[cb.sub * {sub} + i] - cb.cbv[i]))) AS dist
  FROM {src} a CROSS JOIN cb
),
{src}_codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                 ORDER BY dist ASC, code ASC) AS rn
    FROM {src}_cdist
  ) WHERE rn = 1
),
{src}_norm AS (
  SELECT c.vec_id, SQRT(SUM(n.n2)) AS nrm
  FROM {src}_codes c JOIN cbn n ON n.sub = c.sub AND n.code = c.code
  GROUP BY 1
)"""


def _sdc_pairs_sql(sub: int, a: str, b: str, on: str, threshold: float) -> str:
    """``sdc_pairs(id_a, id_b)``: same-cell pairs of ``a`` × ``b``
    (plus the join condition ``on``) whose symmetric-distance cosine —
    m codebook×codebook dot lookups over the two code words, the
    engine's shape — rounds to at least ``threshold``."""
    return f"""pd AS (
  SELECT a.sub, a.code AS ca, b.code AS cb2,
         list_sum(list_transform(generate_series(1, {sub}),
           i -> a.cbv[i] * b.cbv[i])) AS dot
  FROM cb a JOIN cb b ON a.sub = b.sub
),
adot AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(p.dot) AS adot
  FROM {a} a
  JOIN {b} b ON a.cell = b.cell{on}
  JOIN {a}_codes ca ON ca.vec_id = a.vec_id
  JOIN {b}_codes cb2 ON cb2.vec_id = b.vec_id AND cb2.sub = ca.sub
  JOIN pd p ON p.sub = ca.sub AND p.ca = ca.code AND p.cb2 = cb2.code
  GROUP BY 1, 2
),
sdc_pairs AS (
  SELECT d.id_a, d.id_b
  FROM adot d
  JOIN {a}_norm na ON na.vec_id = d.id_a
  JOIN {b}_norm nb ON nb.vec_id = d.id_b
  WHERE na.nrm > 0 AND nb.nrm > 0
    AND ROUND(d.adot / (na.nrm * nb.nrm), 4) >= {threshold}
)"""


#: SemDeDup's election over ``assigned``: a vector drops iff a
#: smaller-id cell-mate has rounded cosine >= 0.4.
_SEMDEDUP_DROPPED_SQL = f"""dropped AS (
  SELECT DISTINCT c.vec_id
  FROM assigned q JOIN assigned c ON q.cell = c.cell AND q.vec_id < c.vec_id
  WHERE {_COS_SQL} >= 0.4
)"""


def _top3_sql(score: str) -> str:
    """Top-3 tail over ``scored(query_id, neighbor_id, {score})``:
    ties break on the lower neighbor id."""
    return f"""SELECT query_id, neighbor_id, {score}, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY {score} DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= 3
"""


def _ivf_top3_sql(nprobe: int) -> str:
    """Cosine top-3 over ``assigned``: each query scores the vectors
    homed in its ``nprobe`` nearest cells."""
    return f"""scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim
  FROM assigned_ranked q JOIN assigned c ON q.cell = c.cell
  WHERE q.rn <= {nprobe} AND q.vec_id <> c.vec_id
)
{_top3_sql("cos_sim")}"""


def _oracle_fit(
    sf_dir: str, cells, pq: bool = False, rel_sql: str | None = None
):
    """``(dim, cents, books)``: the engine's k-means fit on
    ``cells(n)`` cells of :func:`_oracle_sample`'s sample, plus its
    8 × 16 PQ codebooks when ``pq``.  None when there is no sample,
    when ``cells(n)`` is None (the corpus is outside the regime the
    oracle mirrors), or when ``pq`` and the dimension does not split
    into 8 subspaces (a corpus the PQ operators reject)."""
    from tmdb_index_spark.operators.similarity import (
        fit_kmeans_array,
        fit_pq_array,
    )

    sample = _oracle_sample(sf_dir, rel_sql)
    if sample is None:
        return None
    n, X = sample
    k = cells(n)
    if k is None or (pq and X.shape[1] % 8):
        return None
    books = fit_pq_array(X, m=8, ks=16) if pq else None
    return X.shape[1], fit_kmeans_array(X, k), books


def _flat_cells(n: int) -> int:
    """The flat IVF entry points' ``round(√N)`` cells."""
    return max(1, round(n ** 0.5))


def _semantic_flat_cells(n: int) -> int | None:
    """The SemDeDup operators' occupancy-constant ``semantic_cells(n)``,
    or None past the flat k-means regime (cells above
    ``SEMANTIC_TWO_LEVEL_CELLS`` or the 10k fit cap), where the engine
    routes to two-level or sign-bit cells and a flat-fit oracle would
    diverge."""
    from tmdb_index_spark.operators.similarity import (
        SEMANTIC_TWO_LEVEL_CELLS,
        semantic_cells,
    )

    cells = semantic_cells(n)
    if cells > SEMANTIC_TWO_LEVEL_CELLS or cells > 10_000:
        return None
    return cells


#: Deterministic IVF centroids for the catalog query: 8 axis-aligned
#: unit vectors in the 64-dim embedding space. A production index fits
#: these with sampled k-means; the operator (assign + in-cell search) is
#: what's under test, and axis centroids make the oracle reproducible.
_IVF_DIM = 64
_IVF_CELLS = 16
_IVF_CENTROIDS = [
    (j, [1.0 if i == j else 0.0 for i in range(_IVF_DIM)]) for j in range(_IVF_CELLS)
]


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate all-pairs top-3 (extension:
    similarity-search IVF scale path with fixed centroids)."""
    from tmdb_index_spark.operators.similarity import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"), _IVF_CENTROIDS, k=3)


def _ivf_dist_sql(j: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {_IVF_DIM}), "
        f"i -> (v[i] - CASE WHEN i = {j + 1} THEN 1.0 ELSE 0.0 END) "
        f"* (v[i] - CASE WHEN i = {j + 1} THEN 1.0 ELSE 0.0 END)))"
    )


_IVF_SQL = (
    "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    "d AS (SELECT vec_id, v, "
    + ", ".join(f"{_ivf_dist_sql(j)} AS d{j}" for j in range(_IVF_CELLS))
    + " FROM v),\n"
    "assigned AS (SELECT vec_id, v, CASE\n"
    + "\n".join(
        "  WHEN "
        + " AND ".join(f"d{j} <= d{o}" for o in range(_IVF_CELLS) if o != j)
        + f" THEN {j}"
        for j in range(_IVF_CELLS - 1)
    )
    + f"\n  ELSE {_IVF_CELLS - 1} END AS cell FROM d),\n"
    f"scored AS (\n"
    f"  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim\n"
    "  FROM assigned q JOIN assigned c ON q.cell = c.cell\n"
    "  WHERE q.vec_id <> c.vec_id\n"
    ")\n"
    "SELECT query_id, neighbor_id, cos_sim, rank FROM (\n"
    "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id\n"
    "    ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rank FROM scored\n"
    ") WHERE rank <= 3\n"
)


def embedding_ivf_tuned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuned IVF top-3: the production IVF entry point
    (:func:`~tmdb_index_spark.operators.similarity.ivf_index_topk`)
    with ``cells = round(sqrt(N))`` (keeps both the within-cell
    quadratic and the assignment cost linear in N) and centroids fit
    by deterministic sampled k-means. The k-means fit is an iterative
    driver-side algorithm ANSI SQL cannot RUN — but given a fixed
    sample and seed it is a pure function, so the ORACLE re-runs the
    identical numpy fit (:func:`fit_kmeans_array` on the same
    ORDER BY vec_id LIMIT sample read straight from parquet) and
    embeds the fitted centroids as SQL literals
    (:func:`_fitted_ivf_oracle_sql`, registered via
    :data:`DYNAMIC_ORACLES`) — closing the round-6 ``no_oracle`` gap
    with a full value row. ULP caveat: Spark assigns via one BLAS
    matmul, the SQL via a sequential fold — a flip needs two cells
    within ~1 ULP of a vector, which random embeddings don't produce;
    the cos scores themselves compare after ROUND(...,4) (extension:
    similarity-search scale path)."""
    from tmdb_index_spark.operators.similarity import ivf_index_topk

    return ivf_index_topk(_t(spark, sf_dir, "embeddings"), k=3)


def _fitted_ivf_oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Value-row oracle for ``embedding_ivf_tuned_topk``: the engine's
    √N-cell k-means fit re-run on its parquet sample, centroids as
    literals, argmin assignment and within-cell cosine top-3 in SQL."""
    return _flat_ivf_oracle_sql(sf_dir, nprobe=1)


def _flat_ivf_oracle_sql(sf_dir: str, nprobe: int) -> str | None:
    fit = _oracle_fit(sf_dir, _flat_cells)
    if fit is None:
        return None
    dim, cents, _ = fit
    return f"""
{_V_CTE},
{_values_cte("cent", "cell, cv", cents)},
{_assign_sql(dim)},
{_ivf_top3_sql(nprobe)}"""


def embedding_ivf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (hierarchical) IVF top-3 — the round-7 answer to flat
    IVF's measured Θ(N^1.5) ceiling (SCALE.md): coarse-quantized
    assignment makes total work Θ(N^(4/3)) with ``cells = N^(2/3)``,
    ``coarse = √cells``, here with ``probe_coarse=2`` for boundary
    recall. The oracle reproduces the identical two-stage fit
    (:func:`_fitted_ivf2_oracle_sql` via the shared numpy core on the
    same parquet sample) and expresses the two-stage argmin over
    literal centroid tables — a full value row despite the iterative
    fit (extension: similarity-search scale path)."""
    from tmdb_index_spark.operators.similarity import ivf2_index_topk

    return ivf2_index_topk(
        _t(spark, sf_dir, "embeddings"), k=3, probe_coarse=2
    )


def _fitted_ivf2_oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> str | None:
    """Value-row oracle for ``embedding_ivf2_topk``: the engine's
    two-level fit re-run on its parquet sample, coarse and fine
    centroids (with fine→coarse membership) as literals; each vector's
    2 nearest coarse cells by (dist, cell), then argmin (dist, cell)
    over those cells' fine members, in SQL."""
    return _ivf2_oracle_sql(sf_dir, nprobe=1)


def _ivf2_oracle_sql(sf_dir: str, nprobe: int) -> str | None:
    from tmdb_index_spark.operators.similarity import two_level_from_sample

    sample = _oracle_sample(sf_dir)
    if sample is None:
        return None
    n, X = sample
    cells = max(1, min(round(n ** (2.0 / 3.0)), 10_000))
    coarse_cells = max(1, round(cells ** 0.5))
    cc, fine, f2c = two_level_from_sample(X, cells, coarse_cells)
    # only POPULATED coarse cells are probe candidates (mirrors
    # two_level_ivf_assign: a probed-but-empty cell would drop the
    # vector from the membership join here while Spark must still
    # assign it)
    used = set(f2c.values())
    coarse = [(cid, vec) for cid, vec in cc if int(cid) in used]
    fine = [(fid, f2c[int(fid)], vec) for fid, vec in fine]
    dim = X.shape[1]
    return f"""
{_V_CTE},
{_values_cte("ccent", "cell, cv", coarse)},
{_values_cte("fcent", "cell, ccell, cv", fine)},
{_assign_sql(dim, "coarse", "v CROSS JOIN ccent")},
probed AS (SELECT vec_id, v, cell AS ccell FROM coarse_ranked WHERE rn <= 2),
{_assign_sql(dim, "assigned", "probed JOIN fcent USING (ccell)")},
{_ivf_top3_sql(nprobe)}"""


def embedding_ivf2_multiprobe_tuned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-level IVF top-3 with FINE-level query-side multi-probe
    (probe_coarse=2, nprobe=2) — round 13's recall lever on the
    beyond-flat ANN path: flat multi-probe lives in the Θ(N^1.5)
    family (its tuned twin measured 20.8× at 100×), while the
    hierarchical index is Θ(N^(4/3)) — so this is the shape that keeps
    BOTH the scale exponent and the boundary-recall lever.  Queries
    search their two nearest fine cells among the probed coarse
    cells' members (:func:`~tmdb_index_spark.operators.similarity
    .ivf2_probe_assign` — exact sequential folds, probe set always
    contains the home cell); candidates stay in their ONE home cell,
    so candidate volume grows ~nprobe× and the index never
    duplicates.  The oracle re-runs the identical deterministic
    two-stage fit and expresses probe ranking + scoring over literal
    centroid tables (extension: similarity-search scale path)."""
    from tmdb_index_spark.operators.similarity import ivf2_index_topk

    return ivf2_index_topk(
        _t(spark, sf_dir, "embeddings"), k=3, probe_coarse=2, nprobe=2
    )


def _fitted_ivf2_multiprobe_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``embedding_ivf2_multiprobe_tuned``: the
    two-level IVF oracle with each query probing its two nearest fine
    cells."""
    return _ivf2_oracle_sql(sf_dir, nprobe=2)


def embedding_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-3 with query-side multi-probe (nprobe=2): each query
    searches its two nearest cells — the recall lever for boundary
    vectors (extension: similarity-search scale path). LABELLED
    EXHIBIT (round 12, like ``embedding_lsh_topk``): the 16 cells are
    PINNED literals, so per-cell occupancy grows linearly with N and
    the within-cell quadratic dominates at scale (80.1× at 100× in
    SCALE.md tier r11) — kept because fixed literal centroids are
    what a static SQL oracle can mirror exactly; the production form
    is ``embedding_ivf_multiprobe_tuned`` one entry down (cells =
    √N, fitted centroids, dynamic oracle). Scoring runs the cogrouped
    per-cell BLAS path (``impl='pandas'``, the default): the round-9
    full-catalog stress sweep measured the interpreted expression
    spelling at 80× for 10× data — the per-pair 64-term fold
    constant, not the pinned-cell candidate count."""
    from tmdb_index_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"), _IVF_CENTROIDS, k=3, nprobe=2,
    )


def embedding_ivf_multiprobe_tuned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Self-tuned IVF top-3 with query-side multi-probe (nprobe=2):
    ``ivf_index_topk``'s √N-cell self-tuning (the production IVF
    entry point — occupancy shrinks as N grows, unlike the pinned
    16-cell exhibit above) with each query additionally probing its
    second-nearest cell, the standard recall lever for
    boundary-of-cell vectors.  Candidates stay in their ONE home cell
    — multi-probe fans out the query side only, so candidate volume
    grows ~nprobe× while the index never duplicates.  The oracle
    re-runs the identical deterministic sampled k-means fit and
    embeds the centroids as literals with the probe-rank <= 2 query
    side (:func:`_fitted_ivf_multiprobe_oracle_sql`), the
    ``embedding_ivf_tuned_topk`` recipe (extension:
    similarity-search scale path)."""
    from tmdb_index_spark.operators.similarity import ivf_index_topk

    return ivf_index_topk(
        _t(spark, sf_dir, "embeddings"), k=3, nprobe=2
    )


def _fitted_ivf_multiprobe_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``embedding_ivf_multiprobe_tuned``: the
    flat IVF oracle with each query probing its two nearest cells."""
    return _flat_ivf_oracle_sql(sf_dir, nprobe=2)


_IVF_MULTIPROBE_SQL = (
    "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    "d AS (SELECT vec_id, v, "
    + ", ".join(f"{_ivf_dist_sql(j)} AS d{j}" for j in range(_IVF_CELLS))
    + " FROM v),\n"
    "cells AS (\n"
    + " UNION ALL\n".join(
        f"  SELECT vec_id, v, {j} AS cell, d{j} AS dist FROM d"
        for j in range(_IVF_CELLS)
    )
    + "\n),\n"
    "ranked AS (\n"
    "  SELECT vec_id, v, cell,\n"
    "         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS cr\n"
    "  FROM cells\n"
    "),\n"
    "scored AS (\n"
    f"  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS_SQL} AS cos_sim\n"
    "  FROM (SELECT * FROM ranked WHERE cr <= 2) q\n"
    "  JOIN (SELECT * FROM ranked WHERE cr = 1) c ON q.cell = c.cell\n"
    "  WHERE q.vec_id <> c.vec_id\n"
    ")\n"
    "SELECT query_id, neighbor_id, cos_sim, rank FROM (\n"
    "  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id\n"
    "    ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rank FROM scored\n"
    ") WHERE rank <= 3\n"
)


def embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (extension: embedding near-dup
    dedup) — exact baseline (quadratic candidate count BY
    CONSTRUCTION; the LSH-bucketed variant
    `cosine_neardup_pairs(n_bits=...)` is the scale path). Scoring
    runs the broadcast-matrix BLAS form (``impl='pandas'``, the
    default, corpus size bounded by contract): the round-9 stress
    sweep measured the interpreted per-pair fold at 47× for 10× data —
    a constant regression on top of the documented quadratic shape."""
    from tmdb_index_spark.operators.similarity import cosine_neardup_pairs

    return cosine_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


_EMB_NEARDUP_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) /
        (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
         sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) /
        (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
         sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) >= 0.4
"""


def embedding_neardups_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuned bucketed embedding near-dup pairs (extension:
    embedding near-dup dedup, scale path) — the linear-work twin of
    the exact baseline above: sign-bit bucket count tracks
    ``COUNT(*)`` (`bits = clamp(ceil(log2(N / 32)), 1, dim)`, the
    same rule as `embedding_lsh_tuned_topk`), pinning mean bucket
    occupancy so total candidate volume is ~N·32/2 instead of N²/2.
    Same ``(id_a, id_b, cos_sim ≥ 0.4)`` contract on rounded sims;
    recall approximate at bucket boundaries (the documented LSH
    trade). The bit rule is a deterministic function of the row
    count, so the oracle reproduces bucket ids — and the emitted pair
    set — exactly."""
    from tmdb_index_spark.operators.similarity import neardup_index_pairs

    return neardup_index_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    )


# Oracle mirror of neardup_index_pairs: the bit-count rule is the
# lsh_index_topk tuning formula (target_bucket=32, dim cap 64 — the
# embeddings table's dimension); both engines evaluate the same IEEE
# double log2/division, so bucket ids match bit-for-bit and the pair
# set is identical.
_EMB_NEARDUP_TUNED_SQL = """
WITH p AS (
  SELECT LEAST(GREATEST(1, CAST(CEIL(LOG2(GREATEST(COUNT(*), 2) / 32.0)) AS BIGINT)), 64) AS nb
  FROM embeddings
),
v AS (
  SELECT vec_id, v,
         list_sum(list_transform(generate_series(0, (SELECT nb FROM p) - 1),
           i -> CASE WHEN v[i+1] >= 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS bucket
  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    ROUND(list_sum(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])) /
          (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
           sqrt(list_sum(list_transform(b.v, x -> x * x)))), 4) AS cos_sim
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
WHERE cos_sim >= 0.4
"""


def semantic_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication flags (extension:
    embedding near-dup dedup, cluster-bounded scale path — Abbas et
    al. 2023, arXiv:2303.09540): k-means cells bound candidate
    generation to within-cell pairs (``N²/cells`` with the
    occupancy-constant ``cells = round(N / SEMANTIC_CELL_TARGET)``
    rule — round 10 flipped the earlier √N default so total election
    work stays LINEAR in N), and each vector is dropped iff a
    SMALLER-id cell-mate is ``cos ≥ 0.4`` similar — the deterministic
    first-occurrence election, so the kept set is a pure function of
    the table. The k-means fit is iterative and driver-side, but a
    pure function of the (first-10k-by-id) sample — the oracle
    re-runs the identical numpy fit and embeds the fitted centroids
    as SQL literals (:func:`_fitted_semantic_dedup_oracle_sql`, the
    ``embedding_ivf_tuned_topk`` pattern), making this a FULL value
    row despite the fit. Assignment map-only; one shuffle on cell;
    per-cell BLAS election."""
    from tmdb_index_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _fitted_semantic_dedup_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``semantic_dedup_flags``: the engine's
    ``semantic_cells`` k-means fit re-run on its parquet sample,
    centroids as literals, then assignment, within-cell ROUND(cos, 4)
    scoring and the smaller-id drop election in SQL."""
    fit = _oracle_fit(sf_dir, _semantic_flat_cells)
    if fit is None:
        return None
    dim, cents, _ = fit
    return f"""
{_V_CTE},
{_values_cte("cent", "cell, cv", cents)},
{_assign_sql(dim)},
{_SEMDEDUP_DROPPED_SQL}
SELECT vec_id, cell, (vec_id NOT IN (SELECT vec_id FROM dropped)) AS keep
FROM assigned
"""


def semantic_pq_dedup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup flags with a PRODUCT-QUANTIZED election payload
    (extension: the FAISS memory story applied to dedup — Jégou et
    al. 2011 SDC scoring inside Abbas et al. 2023 SemDeDup cells):
    same occupancy-constant cell assignment as
    ``semantic_dedup_flags``, but each vector crosses the per-cell
    shuffle as its 8-subspace × 16-code PQ code word (~16× smaller
    than the raw 64-dim float64 payload) and within-cell cosines are
    read from the codes alone via per-subspace dot-product lookup
    tables (:func:`~tmdb_index_spark.operators.similarity
    .semantic_dedup_pq`). Election rule unchanged: drop iff a
    smaller-id cell-mate's (rounded) SDC cosine ≥ 0.4. Both the
    k-means cells and the per-subspace codebooks are deterministic
    functions of the one bounded sample, so the oracle re-runs both
    fits and embeds them as SQL literals
    (:func:`_fitted_semantic_pq_oracle_sql`) — a FULL value row; the
    raw-payload twin ``semantic_dedup_flags`` is the exactness
    referent."""
    from tmdb_index_spark.operators.similarity import semantic_dedup_pq

    return semantic_dedup_pq(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def _fitted_semantic_pq_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``semantic_pq_dedup_flags``: the semantic
    dedup oracle with the 8 × 16 PQ codebooks fit on the same sample,
    PQ encoding, and the smaller-id election scored by SDC cosine."""
    fit = _oracle_fit(sf_dir, _semantic_flat_cells, pq=True)
    if fit is None:
        return None
    dim, cents, books = fit
    sub = dim // 8
    return f"""
{_V_CTE},
{_values_cte("cent", "cell, cv", cents)},
{_assign_sql(dim)},
{_codebook_sql(books)},
{_pq_encode_sql(sub)},
{_sdc_pairs_sql(sub, "assigned", "assigned", " AND a.vec_id < b.vec_id", 0.4)}
SELECT vec_id, cell,
       (vec_id NOT IN (SELECT id_b FROM sdc_pairs)) AS keep
FROM assigned
"""


def embedding_pca_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA dimensionality reduction over the embedding corpus
    (extension: the embedding-space diagnostic a training pipeline runs
    before clustering/dedup — do the labels separate along the top
    principal directions, and how much variance do those directions
    carry): fit mean + top-2 eigenvectors on the bounded deterministic
    sample (`operators/similarity.py: fit_pca` — the
    :func:`fit_centroids` scale story: driver-side numpy on a (d, d)
    covariance, NEVER N-proportional), embed the fit as plan literals,
    and project the FULL corpus map-only — one flat unrolled
    expression per component (`pca_projection_sql`, shared verbatim
    with the oracle so both engines run the same left-associative
    float64 chain), projections quantized to integer micros before the
    per-label sum so the aggregate is exact integer arithmetic. Output:
    per-label PC means + the fit's explained-variance ratios. Full
    value oracle despite the iterative-looking fit — the
    fitted-literal dynamic-oracle pattern (same numpy core re-run on
    the same parquet sample, components embedded as literals)."""
    from tmdb_index_spark.operators.similarity import (
        fit_pca,
        pca_projection_sql,
    )

    emb = _t(spark, sf_dir, "embeddings")
    mu, comps, evr = fit_pca(emb, 2)
    p1 = pca_projection_sql(mu, comps[0], "embedding")
    p2 = pca_projection_sql(mu, comps[1], "embedding")
    proj = emb.selectExpr(
        "label",
        f"CAST(ROUND(({p1}) * 1e6) AS BIGINT) AS __p1__",
        f"CAST(ROUND(({p2}) * 1e6) AS BIGINT) AS __p2__",
    )
    n = F.count(F.lit(1))
    return proj.groupBy("label").agg(
        n.cast("long").alias("n_vecs"),
        F.round(
            F.sum("__p1__").cast("double") / n.cast("double") / F.lit(1e6), 6
        ).alias("mean_pc1"),
        F.round(
            F.sum("__p2__").cast("double") / n.cast("double") / F.lit(1e6), 6
        ).alias("mean_pc2"),
        F.lit(round(evr[0], 6)).alias("evr_pc1"),
        F.lit(round(evr[1], 6)).alias("evr_pc2"),
    )


def _fitted_pca_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``embedding_pca_labels``: the engine's PCA
    fit (:func:`fit_pca_array`) re-run on its parquet sample, and the
    projection as the SAME unrolled expression string
    (``pca_projection_sql``, ``one_based=True`` for DuckDB's list
    indexing) with the fitted mean/components as literals."""
    from tmdb_index_spark.operators.similarity import (
        fit_pca_array,
        pca_projection_sql,
    )

    sample = _oracle_sample(sf_dir)
    if sample is None:
        return None
    mu, comps, evr = fit_pca_array(sample[1], 2)
    p1 = pca_projection_sql(mu.tolist(), comps[0].tolist(), "embedding", True)
    p2 = pca_projection_sql(mu.tolist(), comps[1].tolist(), "embedding", True)
    return f"""
WITH proj AS (
  SELECT label,
         CAST(ROUND(({p1}) * 1e6) AS BIGINT) AS p1,
         CAST(ROUND(({p2}) * 1e6) AS BIGINT) AS p2
  FROM embeddings
)
SELECT label,
       COUNT(*)::BIGINT AS n_vecs,
       ROUND(CAST(SUM(p1) AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean_pc1,
       ROUND(CAST(SUM(p2) AS DOUBLE) / COUNT(*) / 1e6, 6) AS mean_pc2,
       CAST({round(evr[0], 6)!r} AS DOUBLE) AS evr_pc1,
       CAST({round(evr[1], 6)!r} AS DOUBLE) AS evr_pc2
FROM proj GROUP BY label
"""


def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-3 (extension: similarity-search scale path — the
    FAISS ``IVFPQ`` shape, Jégou et al. 2011): IVF cells with the
    flat-IVF ``cells = round(√N)`` rule bound the candidate sets, each
    candidate is an 8-subspace × 16-code product-quantization code
    word (~32× smaller than the raw float32 vector), and scoring is
    ADC — the query side stays exact, the candidate side is read from
    codes alone via one (m × ks) lookup table per query
    (:func:`~tmdb_index_spark.operators.similarity.ivfpq_index_topk`).
    IVF centroids AND per-subspace codebooks are fit by the SAME
    deterministic numpy k-means core on one bounded sample, so the
    ORACLE re-runs both fits from the same parquet sample and embeds
    them as SQL literals (:func:`_fitted_pq_oracle_sql`) — a FULL
    value row despite the iterative fits, the fitted-literal pattern.
    ULP caveat as for the IVF oracles: Spark scores via BLAS lookup
    tables, the SQL via sequential folds — adc_sim compares after
    ROUND(..., 4)."""
    from tmdb_index_spark.operators.similarity import ivfpq_index_topk

    return ivfpq_index_topk(_t(spark, sf_dir, "embeddings"), k=3)


def _fitted_pq_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``embedding_pq_topk``: the flat IVF fit
    plus the 8 × 16 PQ codebooks re-run on the engine's parquet sample,
    both as literals; assignment, PQ encoding and ADC top-3 (exact
    query side, decoded candidate side) in SQL."""
    return _ivfpq_oracle_sql(sf_dir, nprobe=1)


def _ivfpq_oracle_sql(sf_dir: str, nprobe: int) -> str | None:
    fit = _oracle_fit(sf_dir, _flat_cells, pq=True)
    if fit is None:
        return None
    dim, cents, books = fit
    sub = dim // 8
    return f"""
{_V_CTE},
{_values_cte("cent", "cell, cv", cents)},
{_assign_sql(dim)},
{_codebook_sql(books)},
{_pq_encode_sql(sub)},
qn AS (SELECT vec_id,
              SQRT(list_sum(list_transform(v, x -> x * x))) AS qnorm
       FROM assigned),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM(list_sum(list_transform(generate_series(1, {sub}),
           i -> q.v[cd.sub * {sub} + i] * cb.cbv[i]))) AS adot
  FROM assigned_ranked q
  JOIN assigned c ON q.cell = c.cell AND q.vec_id <> c.vec_id
  JOIN assigned_codes cd ON cd.vec_id = c.vec_id
  JOIN cb ON cb.sub = cd.sub AND cb.code = cd.code
  WHERE q.rn <= {nprobe}
  GROUP BY 1, 2
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         ROUND(d.adot / (q.qnorm * n.nrm), 4) AS adc_sim
  FROM dots d
  JOIN qn q ON q.vec_id = d.query_id
  JOIN assigned_norm n ON n.vec_id = d.neighbor_id
  WHERE q.qnorm > 0 AND n.nrm > 0
)
{_top3_sql("adc_sim")}"""


def embedding_pq_multiprobe_tuned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ top-3 with query-side multi-probe (nprobe=2) — round 13
    completes the ANN recall-lever matrix: flat IVF and the two-level
    index both carry ``nprobe``; this adds it to the memory-bounded
    PQ path, where the candidate side is read from ~32×-compressed
    code words (ADC scoring).  Queries probe their two nearest cells
    via the exact-fold ranking (:func:`~tmdb_index_spark.operators
    .similarity.ivf_probe_assign`); candidate codes stay in their one
    home cell; per-cell scoring is the cogrouped lookup-table ADC
    pass.  Oracle: the :func:`_fitted_pq_oracle_sql` recipe with the
    probe-rank <= 2 query side (extension: similarity-search scale
    path)."""
    from tmdb_index_spark.operators.similarity import ivfpq_index_topk

    return ivfpq_index_topk(
        _t(spark, sf_dir, "embeddings"), k=3, nprobe=2
    )


def _fitted_pq_multiprobe_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``embedding_pq_multiprobe_tuned``: the
    IVF-PQ oracle with each query probing its two nearest cells."""
    return _ivfpq_oracle_sql(sf_dir, nprobe=2)


def ann_recall_eval_multiprobe(
    spark: SparkSession, sf_dir: str, n_estimate: int | None = None
) -> DataFrame:
    """Recall@3 of the three MULTI-PROBE index families (round 13 —
    the eval harness extended to the full recall-lever matrix): flat
    IVF, two-level IVF, and IVF-PQ, each at ``nprobe=2``, against
    exact cosine ground truth on the same deterministic bounded query
    sample as :func:`ann_recall_eval` (``vec_id % 50 = 0 AND vec_id <
    100000`` — exact work stays |sample|·N, linear in N).  Same
    integer-exact recall arithmetic; the oracle COMPOSES the three
    fitted-literal index oracles as subqueries (each reproduces its
    deterministic fit from the same parquet sample), so every approx
    set — and hence the recall — hash-matches across engines.

    Round 14 (guide §1.2 "don't compute what you throw away"): each
    index leg takes ``queries=sampled`` so probe assignment and
    per-cell scoring run ONLY for the ~2% query sample the recall is
    computed over, instead of producing the full N-query top-k and
    discarding 98% of it — per-query results are independent, so the
    surviving rows (and the recall) are bit-identical; the post-hoc
    sample filter stays as belt-and-braces.  ``n_estimate`` lets a
    caller that already counted the table (the advisor) skip the
    three per-leg ``count()`` jobs; the fits and the map-only
    corpus-side assignment are unchanged."""
    from tmdb_index_spark.operators.similarity import (
        ivf2_index_topk,
        ivf_index_topk,
        ivfpq_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    n = n_estimate if n_estimate is not None else emb.count()
    in_sample = (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 100_000)
    sampled = emb.filter(in_sample)
    exact = brute_force_topk(emb, sampled, k=3).select(
        "query_id", "neighbor_id"
    )
    nq = sampled.agg(F.count(F.lit(1)).alias("n_queries"))

    def _hits(name: str, approx: DataFrame) -> DataFrame:
        return (
            approx.filter(
                (F.col("query_id") % 50 == 0)
                & (F.col("query_id") < 100_000)
            )
            .join(F.broadcast(exact), ["query_id", "neighbor_id"], "leftsemi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(name).alias("index_name"), "n_hits")
        )

    per_index = (
        _hits(
            "ivf_multiprobe",
            ivf_index_topk(
                emb, k=3, nprobe=2, n_estimate=n, queries=sampled
            ),
        )
        .unionByName(
            _hits(
                "ivf2_multiprobe",
                ivf2_index_topk(
                    emb, k=3, probe_coarse=2, nprobe=2,
                    n_estimate=n, queries=sampled,
                ),
            )
        )
        .unionByName(
            _hits(
                "pq_multiprobe",
                ivfpq_index_topk(
                    emb, k=3, nprobe=2, n_estimate=n, queries=sampled
                ),
            )
        )
    )
    return per_index.join(F.broadcast(nq)).select(
        "index_name",
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(
            F.col("n_hits") / (F.lit(3.0) * F.col("n_queries")), 6
        ).alias("recall_at_3"),
    )


def _ann_recall_multiprobe_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``ann_recall_eval_multiprobe``: the three
    fitted-literal multi-probe oracles as recall legs."""
    return _recall_sql(
        [
            ("ivf_multiprobe", _fitted_ivf_multiprobe_oracle_sql(sf_dir)),
            ("ivf2_multiprobe", _fitted_ivf2_multiprobe_oracle_sql(sf_dir)),
            ("pq_multiprobe", _fitted_pq_multiprobe_oracle_sql(sf_dir)),
        ]
    )


def _recall_sql(legs: list[tuple[str, str | None]]) -> str | None:
    """Recall@3 of each ``(index_name, top-k SQL)`` leg against exact
    cosine top-3 on the bounded query sample (``vec_id % 50 = 0 AND
    vec_id < 100000``).  Each leg runs as a subquery, so its CTE names
    are scoped to it; restricting the query side to the sample after
    ranking equals ranking the sample alone, as per-query results are
    independent.  None when any leg has no SQL: a partially mirrored
    eval is never emitted."""
    if not all(sql for _, sql in legs):
        return None
    hits = "\n  UNION ALL ".join(
        f"""SELECT '{name}' AS index_name, COUNT(*) AS n_hits
  FROM (
    SELECT query_id, neighbor_id FROM ({sql}) __a
    WHERE query_id % 50 = 0 AND query_id < 100000
  ) __f
  JOIN exact e USING (query_id, neighbor_id)"""
        for name, sql in legs
    )
    return f"""
{_V_CTE},
qs AS (SELECT * FROM v WHERE vec_id % 50 = 0 AND vec_id < 100000),
nq AS (SELECT COUNT(*) AS n_queries FROM qs),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_COS_SQL} DESC, c.vec_id ASC) AS rn
    FROM qs q CROSS JOIN v c WHERE q.vec_id <> c.vec_id
  ) WHERE rn <= 3
),
hits AS (
  {hits}
)
SELECT index_name, CAST(n_queries AS BIGINT) AS n_queries,
       CAST(n_hits AS BIGINT) AS n_hits,
       ROUND(n_hits / (3.0 * n_queries), 6) AS recall_at_3
FROM hits CROSS JOIN nq
"""


#: The advisor's recall floor: a family must measure recall@3 >= this
#: on the bounded query sample to be eligible; among eligible families
#: the CHEAPEST (estimated candidate bytes per query) wins — the
#: FAISS-guideline decision shape (recall target first, then memory /
#: bandwidth). With no family at the floor the advisor degrades to the
#: max-recall family, so it always emits exactly one recommendation.
ANN_ADVISOR_TARGET_RECALL = 0.3


def _ann_advisor_cost_rows(
    n: int, dim: int, nprobe: int = 2, pq_m: int = 8, fit_cap: int = 10_000
) -> list[tuple[str, int, int, int]]:
    """The modeled per-family cost side of the advisor, from the SAME
    occupancy rules the self-tuned index entry points apply at fit
    time (``ivf_index_topk``: cells = round(√N); ``ivf2_index_topk``:
    cells = min(round(N^(2/3)), fit-sample cap); ``ivfpq_index_topk``:
    the flat rule + ``m``-byte codes) — so the advisor's numbers are
    the costs the family WOULD incur on this corpus, not generic
    asymptotics.  Per family at query-side multi-probe ``nprobe``:
    expected candidates scored per query = nprobe · ⌊N / cells⌋ (mean
    cell occupancy; corpus membership is single-cell in every family,
    the asymmetric contract), and candidate payload bytes = dim · 8
    for the full-vector families vs ``pq_m`` one-byte codes for PQ —
    the ~``dim·8/m``× shuffle-compression that is PQ's whole point.
    Returns ``(index_name, cells, est_candidates_per_query,
    est_candidate_bytes_per_query)`` rows.  Pure integer/float
    arithmetic shared verbatim by the Spark build and the oracle
    builder, so both engines see identical literals."""
    flat_cells = max(1, round(n ** 0.5))
    ivf2_cells = max(1, min(round(n ** (2.0 / 3.0)), fit_cap))
    rows = []
    for name, cells, payload in (
        ("ivf_multiprobe", flat_cells, dim * 8),
        ("ivf2_multiprobe", ivf2_cells, dim * 8),
        ("pq_multiprobe", flat_cells, pq_m),
    ):
        cand = nprobe * (n // cells)
        rows.append((name, cells, cand, cand * payload))
    return rows


def ann_index_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index advisor over the ANN recall-lever matrix (round 14 — the
    FAISS-style "which index should this corpus use" decision as a
    catalog query): measures recall@3 of all three multi-probe
    families (:func:`ann_recall_eval_multiprobe`'s legs), attaches
    each family's MODELED cost at the current corpus size via the
    self-tuned occupancy rules (:func:`_ann_advisor_cost_rows`), and
    flags exactly one ``recommended`` family — the cheapest (estimated
    candidate bytes shuffled per query) among those meeting
    :data:`ANN_ADVISOR_TARGET_RECALL`, degrading to the max-recall
    family when none does.  The decision arithmetic runs IN-ENGINE on
    both sides over the 3-row family frame, so the whole decision
    table hash-matches the DuckDB oracle.

    N-regime → recommended gear, consistent with the measured 100×
    stress rows (SCALE.md: flat multiprobe 20.8×, ivf2 10.3×, PQ
    13.3× at 100× data) and the family docstrings:

    ========================  =============================================
    corpus regime             gear
    ========================  =============================================
    N ≲ 10⁴ (dev/eval)        flat IVF multiprobe — Θ(N^1.5) is harmless
                              here and it holds the best recall
    10⁴ ≲ N ≲ 10⁷             two-level IVF (Θ(N^(4/3)) total) when recall
                              rules; IVF-PQ when candidate bandwidth does
                              (dim·8/m ≈ 64× smaller shuffles)
    N beyond (100 TB tier)    IVF-PQ with the codes sidecar (encode once,
                              reuse per batch) — the only family whose
                              candidate payload stays byte-scale — or the
                              occupancy-constant LSH index when throughput
                              beats learned-cell recall
    ========================  =============================================

    The measured sf0.01/sf0.1 decisions exercise both branches: at
    N=500 PQ meets the floor and wins on bytes (360 vs 23 040 per
    query); at N=2000 only flat IVF stays above the floor and the
    advisor pays its bandwidth for the recall.
    """
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    head = emb.select(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size("embedding")).alias("dim"),
    ).first()
    n, dim = int(head["n"] or 0), int(head["dim"] or 0)
    # a VALUES literal relation (LocalTableScan), not createDataFrame:
    # the cost rows are plan-build-time literals, and a literal
    # relation keeps the whole decision JVM-side with a plan the
    # window lint can see is bounded (createDataFrame of Python rows
    # compiles to an opaque RDDScan)
    values = ", ".join(
        f"('{name}', CAST({cells} AS INT), CAST({cand} AS BIGINT),"
        f" CAST({by} AS BIGINT))"
        for name, cells, cand, by in _ann_advisor_cost_rows(n, dim)
    )
    costs = spark.sql(
        f"SELECT * FROM VALUES {values} AS t(index_name, cells,"
        " est_candidates_per_query, est_candidate_bytes_per_query)"
    )
    # n_estimate: the head row above already counted the table — the
    # eval harness then skips its own count and the three per-leg
    # count jobs (guide §1.5: fixed per-job overhead)
    rec = ann_recall_eval_multiprobe(spark, sf_dir, n_estimate=n)
    joined = rec.join(F.broadcast(costs), "index_name")
    elig = F.col("recall_at_3") >= F.lit(ANN_ADVISOR_TARGET_RECALL)
    # 3-row frame (one per family) — the unpartitioned window is
    # bounded by the family count, not the data
    w = Window.orderBy(
        elig.desc(),
        F.when(elig, F.col("est_candidate_bytes_per_query"))
        .asc_nulls_last(),
        F.col("recall_at_3").desc(),
        F.col("index_name").asc(),
    )
    return joined.select(
        "index_name",
        F.lit(n).cast("long").alias("n_corpus"),
        "n_queries",
        "n_hits",
        "recall_at_3",
        "cells",
        "est_candidates_per_query",
        "est_candidate_bytes_per_query",
        F.lit(float(ANN_ADVISOR_TARGET_RECALL)).alias("target_recall"),
        (F.row_number().over(w) == 1).alias("recommended"),
    )


def _ann_index_advisor_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``ann_index_advisor``: the composed
    recall-matrix oracle as a subquery, the SAME
    :func:`_ann_advisor_cost_rows` literals (one shared Python
    helper — both engines see identical numbers), and the identical
    in-SQL decision ordering.  Degrades to rows-only whenever the
    recall-matrix oracle does."""
    rec_sql = _ann_recall_multiprobe_oracle_sql(sf_dir)
    if rec_sql is None:
        return None
    n, X = _oracle_sample(sf_dir)
    cost = _values_cte(
        "cost",
        "index_name, cells, est_candidates_per_query,"
        " est_candidate_bytes_per_query",
        _ann_advisor_cost_rows(n, X.shape[1]),
    )
    t = ANN_ADVISOR_TARGET_RECALL
    return f"""
WITH rec AS ({rec_sql}),
{cost},
j AS (
  SELECT r.index_name, r.n_queries, r.n_hits, r.recall_at_3,
         c.cells, c.est_candidates_per_query,
         c.est_candidate_bytes_per_query,
         (r.recall_at_3 >= {t!r}) AS elig
  FROM rec r JOIN cost c USING (index_name)
)
SELECT index_name, CAST({n} AS BIGINT) AS n_corpus, n_queries, n_hits,
       recall_at_3, CAST(cells AS INTEGER) AS cells,
       CAST(est_candidates_per_query AS BIGINT)
         AS est_candidates_per_query,
       CAST(est_candidate_bytes_per_query AS BIGINT)
         AS est_candidate_bytes_per_query,
       CAST({t!r} AS DOUBLE) AS target_recall,
       (rn = 1) AS recommended
FROM (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY elig DESC,
             CASE WHEN elig THEN est_candidate_bytes_per_query END
               ASC NULLS LAST,
             recall_at_3 DESC, index_name ASC) AS rn
  FROM j
)
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality evaluation (extension: similarity-search eval
    harness — the recall@k sweep every production ANN deployment runs
    before trusting an index): mean recall@3 of the two self-tuned
    indexes (`lsh_tuned` = :func:`lsh_index_topk`, `ivf_tuned` =
    :func:`ivf_index_topk`) against EXACT cosine ground truth on a
    deterministic BOUNDED query sample (``vec_id % 50 = 0 AND vec_id <
    100000`` — the standard bounded-eval shape: the id cap holds the
    eval set at ≤2000 queries however large the corpus, so exact work
    is |sample|·N with the sample broadcast, LINEAR in N; a pure
    1-in-50 fraction would make it N²/50). A query with no approx
    rows still counts in the
    denominator; recall@3 = hits / (3 · n_queries). Both index results
    and the ground truth use the family contract (ROUND(cos, 4) before
    ranking, ties on lower neighbor id), so the compared sets — and
    hence the recall — are integer-exact across engines. The oracle
    re-runs the IVF centroid fit from the same parquet sample
    (fitted-literal pattern, :func:`_ann_recall_oracle_sql`) and the
    LSH bit rule as a function of COUNT(*)."""
    from tmdb_index_spark.operators.similarity import (
        ivf_index_topk,
        lsh_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    in_sample = (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 100_000)
    sampled = emb.filter(in_sample)
    exact = brute_force_topk(emb, sampled, k=3).select(
        "query_id", "neighbor_id"
    )
    nq = sampled.agg(F.count(F.lit(1)).alias("n_queries"))

    def _hits(name: str, approx: DataFrame) -> DataFrame:
        return (
            approx.filter(
                (F.col("query_id") % 50 == 0)
                & (F.col("query_id") < 100_000)
            )
            .join(F.broadcast(exact), ["query_id", "neighbor_id"], "leftsemi")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(F.lit(name).alias("index_name"), "n_hits")
        )

    per_index = _hits("ivf_tuned", ivf_index_topk(emb, k=3)).unionByName(
        _hits("lsh_tuned", lsh_index_topk(emb, k=3))
    )
    return per_index.join(F.broadcast(nq)).select(
        "index_name",
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(
            F.col("n_hits") / (F.lit(3.0) * F.col("n_queries")), 6
        ).alias("recall_at_3"),
    )


def _ann_recall_oracle_sql(
    sf_dir: str = "/root/testdata/sf0.01",
) -> str | None:
    """Value-row oracle for ``ann_recall_eval``: the fitted IVF oracle
    and the static LSH-tuned oracle (its bit rule is a function of
    COUNT(*)) as recall legs."""
    return _recall_sql(
        [
            ("ivf_tuned", _fitted_ivf_oracle_sql(sf_dir)),
            ("lsh_tuned", _EMB_LSH_TUNED_SQL),
        ]
    )


_STATIONARY_ITERS = 16


def _stationary_sql(table: str, spark_dialect: bool) -> str:
    """One generated SQL text for the event-type stationary
    distribution, shared by both engines (only the integer-division
    operator differs: Spark ``DIV``, DuckDB ``//``): the Markov chain
    over consecutive-event transitions, its transition matrix
    quantized to exact integer ppm, then ``_STATIONARY_ITERS`` power
    steps of v·P as chained CTEs — every step is pure BIGINT
    multiply/sum/divide, so the fixed point is bit-identical across
    engines with NO float-sum caveat (the `trade_graph_pagerank`
    exact-integer convention, taken to a deeper unroll over the
    types×types-bounded frame)."""
    dv = "DIV" if spark_dialect else "//"
    steps = []
    prev = "v0"
    for i in range(1, _STATIONARY_ITERS + 1):
        steps.append(f"""
v{i} AS (
  SELECT p.b AS t, CAST(SUM({prev}.v * p.ppm) {dv} 1000000 AS BIGINT) AS v
  FROM {prev} JOIN p ON p.a = {prev}.t GROUP BY p.b
)""")
        prev = f"v{i}"
    return f"""
WITH pairs AS (
  SELECT event_type AS a,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS b
  FROM {table}
),
cnt AS (
  SELECT a, b, COUNT(*)::BIGINT AS c
  FROM pairs WHERE b IS NOT NULL GROUP BY a, b
),
rowsum AS (SELECT a, SUM(c) AS tot FROM cnt GROUP BY a),
p AS (
  SELECT cnt.a, cnt.b, CAST((c * 1000000) {dv} tot AS BIGINT) AS ppm
  FROM cnt JOIN rowsum ON cnt.a = rowsum.a
),
types AS (SELECT DISTINCT event_type AS t FROM {table}),
v0 AS (
  SELECT t, CAST(1000000000 {dv} (SELECT COUNT(*) FROM types) AS BIGINT)
           AS v
  FROM types
),
{",".join(steps)}
SELECT t AS event_type,
       CAST(v AS BIGINT) AS prob_nanos,
       ROUND(CAST(v AS DOUBLE) / 1e9, 6) AS stationary_prob
FROM {prev}
"""


def event_stationary_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain
    (extension: the fixed-point summary of `event_transition_probs` —
    where user behavior settles if the observed transition dynamics
    run forever, the classic power-iteration statistic behind
    behavioral steady-state dashboards): 16 v·P power steps over the
    types×types-bounded transition matrix, EVERY step exact integer
    arithmetic (probabilities as nanos, the matrix as ppm — the
    `trade_graph_pagerank` convention), so the result is bit-identical
    across engines with no float caveat at all. Row quantization
    truncates, so total mass decays ≤ |types| ppm per step
    (documented, deterministic); dangling types (no outgoing
    transitions) correctly bleed to zero.

    Round 15 (guide §1.5/§5 — the bounded-math convention of `mmr`/
    `channel_removal_effects`): ONE distributed pass computes the
    events-sized work (the LEAD window + the (a, b, count) aggregate);
    the transition matrix and the 16 power steps are |types|²-bounded,
    so they run as exact Python BIGINT arithmetic on the driver under
    :func:`bounded_collect`'s declared bounds instead of 16 chained
    tiny AQE aggregates (measured: 27 consume jobs → 3, each a
    serial stage launch at any scale). The integer ops are the SQL's
    (`SUM(v·ppm) DIV 1e6` per reachable `b`, row membership
    preserved), so nanos are bit-identical — pinned by the unchanged
    chained-CTE DuckDB oracle — and the final double rounding stays
    IN Spark over the literal result rows, so no Python float touches
    the declared output."""
    from pyspark.sql import Window

    from tmdb_index_spark.operators.materialize import bounded_collect

    ev = _events(spark, sf_dir)
    pairs = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type")
            .over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            )
            .alias("b"),
        )
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # event_type is a bounded behavioral enum: |types| and |types|²
    # are driver-safe by schema, and the bounds make that ENFORCED
    cnt = bounded_collect(pairs, 262_144, "event transition matrix")
    types = sorted(
        r["t"]
        for r in bounded_collect(
            ev.select(F.col("event_type").alias("t")).distinct(),
            512,
            "event type domain",
        )
    )
    out_schema = "event_type string, v long"
    if not types:
        empty = spark.createDataFrame([], out_schema)
        return empty.select(
            "event_type",
            F.col("v").cast("bigint").alias("prob_nanos"),
            F.round(F.col("v").cast("double") / F.lit(1e9), 6).alias(
                "stationary_prob"
            ),
        )
    rowsum: dict = {}
    for r in cnt:
        rowsum[r["a"]] = rowsum.get(r["a"], 0) + int(r["c"])
    # ppm quantization: CAST((c * 1e6) DIV tot AS BIGINT), exact ints
    p: dict = {}
    for r in cnt:
        p.setdefault(r["a"], []).append(
            (r["b"], (int(r["c"]) * 1_000_000) // rowsum[r["a"]])
        )
    v = {t: 1_000_000_000 // len(types) for t in types}
    for _ in range(_STATIONARY_ITERS):
        acc: dict = {}
        for a, val in v.items():
            for b, ppm in p.get(a, ()):
                acc[b] = acc.get(b, 0) + val * ppm
        # row membership matches the SQL join-groupBy: only types
        # reachable from the CURRENT vector's support get a row
        v = {b: s // 1_000_000 for b, s in acc.items()}
    rows = [(t, v[t]) for t in sorted(v)]
    return spark.createDataFrame(rows, out_schema).select(
        "event_type",
        F.col("v").cast("bigint").alias("prob_nanos"),
        F.round(F.col("v").cast("double") / F.lit(1e9), 6).alias(
            "stationary_prob"
        ),
    )


_STATIONARY_SQL = _stationary_sql("events", spark_dialect=False)


def code_switch_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching (mixed-language) detection per source
    (extension: the cleaning signal language-ID alone misses — a doc
    whose tokens hit TWO languages' marker lexicons hard is mixed
    content that degrades monolingual training; flag docs where ≥2
    languages score ≥2 marker hits each, report the per-source mixed
    share): per-language hit counts are the `lang_id_predict` marker
    sets evaluated as pure column expressions (map-only), the flag is
    exact integer logic, and the per-source rollup is one combinable
    groupBy — parity is trivial by construction."""
    from tmdb_index_spark.functions.text import LANG_MARKERS, tokens

    docs = _t(spark, sf_dir, "documents")
    t = tokens(F.coalesce(F.col("text"), F.lit("")))
    def _hits(markers: tuple[str, ...]) -> F.Column:
        arr = F.array(*[F.lit(m) for m in markers])
        # NB: a two-parameter lambda would be read as (element, index)
        return F.size(
            F.filter(t, lambda w: F.array_contains(arr, F.lower(w)))
        )

    hit_langs = None
    for markers in LANG_MARKERS.values():
        flag = F.when(_hits(markers) >= 2, 1).otherwise(0)
        hit_langs = flag if hit_langs is None else hit_langs + flag
    mixed = F.when(hit_langs >= 2, 1).otherwise(0)
    return (
        docs.select("source", mixed.alias("__m__"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__m__").cast("bigint").alias("n_mixed"),
            F.round(
                F.sum("__m__").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mixed_rate"),
        )
    )


def _code_switch_sql() -> str:
    from tmdb_index_spark.functions.text import LANG_MARKERS

    flags = " + ".join(
        "(CASE WHEN len(list_filter(ts, w -> list_contains([{m}], "
        "lower(w)))) >= 2 THEN 1 ELSE 0 END)".format(
            m=", ".join(f"'{w}'" for w in markers)
        )
        for markers in LANG_MARKERS.values()
    )
    return f"""
WITH t AS (
  SELECT source,
         regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS ts
  FROM documents
),
flagged AS (
  SELECT source,
         CASE WHEN ({flags}) >= 2 THEN 1 ELSE 0 END AS m
  FROM t
)
SELECT source, COUNT(*)::BIGINT AS n_docs,
       SUM(m)::BIGINT AS n_mixed,
       ROUND(SUM(m) / CAST(COUNT(*) AS DOUBLE), 6) AS mixed_rate
FROM flagged GROUP BY 1
"""


_CODE_SWITCH_SQL = _code_switch_sql()


_BACKTEST_FOLDS = (
    ("1998-01-01", "1999-01-01"),
    ("1999-01-01", "2000-01-01"),
    ("2000-01-01", "2001-01-01"),
)


def rolling_backtest_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) backtest of the per-DOW daily
    revenue model (extension: time-series cross-validation — the
    honest way to evaluate a forecaster, train strictly before each
    test year; Tashman 2000 review): three folds, each training the
    day-of-week mean on ALL days before the fold's start and scoring
    MAE / bias on the fold's year. ONE daily rollup feeds every fold
    (the expanding windows are filters over the same bounded daily
    frame — no re-scan per fold); day-of-week is the portable
    ``datediff % 7``; daily revenue exact DECIMAL; per-fold error sums
    quantize to integer micros before aggregation (no float-sum-order
    drift), divisions at the end. Output per fold: train/test day
    counts, MAE, mean bias (signed).

    Round 15 (guide §1.5/§5 — the bounded-math convention of
    `event_stationary_dist` / `column_dependence_mi`): the daily
    rollup is CALENDAR-bounded (the ship-date span is a ~7-year domain
    property at any scale factor), so the three per-fold model fits —
    exact DECIMAL sums, integer day counts, ONE double division per
    day-of-week — run as Python arithmetic over one
    :func:`bounded_collect` of the pinned rollup instead of 3 ×
    (model aggregate + train count + broadcast crossJoins) of tiny
    serial AQE jobs (measured: 26 consume jobs → 3). Bit-equivalence:
    ``float(Decimal_sum) / n`` and Spark's
    ``SUM(DECIMAL).cast(double) / COUNT(*)`` are both
    correctly-rounded conversions followed by the same IEEE division,
    and the collected day strings compare exactly like the removed
    timestamp filters (ISO dates, same session calendar). EVERY
    float-sensitive per-day op — the error against the (bit-identical)
    literal predictions, the micro-quantization rounds, the error
    sums and the final divisions/roundings — stays IN Spark, now as
    ONE conditional aggregate over the same pinned rollup (fold test
    windows are disjoint by construction, checked first), left-joined
    back to the literal fold spine so empty test windows keep their
    ``n_test_days = 0`` / NULL-MAE rows."""
    from tmdb_index_spark.operators.materialize import bounded_collect

    # disjoint, ordered test windows are what lets ONE conditional
    # aggregate replace the per-fold filters below
    if any(
        _BACKTEST_FOLDS[i][1] > _BACKTEST_FOLDS[i + 1][0]
        for i in range(len(_BACKTEST_FOLDS) - 1)
    ):
        raise ValueError(
            "rolling_backtest_mae: fold test windows must be disjoint "
            f"and ordered, got {_BACKTEST_FOLDS}"
        )
    li = _t(spark, sf_dir, "lineitem")
    daily = (
        li.groupBy(F.date_trunc("day", F.col("l_shipdate")).alias("__day__"))
        .agg(F.sum(_dec("l_extendedprice")).alias("__rev__"))
        .select(
            "__day__",
            F.col("__rev__").cast("double").alias("__y__"),
            F.col("__rev__").alias("__ydec__"),
            (
                F.datediff(
                    F.col("__day__"), F.lit("1995-01-02").cast("date")
                )
                % 7
            ).alias("__dow__"),
        )
    )
    from tmdb_index_spark.operators.materialize import pin_frame

    daily = pin_frame(daily)  # every fold filters the same rollup
    cal = bounded_collect(
        daily.select(
            F.date_format("__day__", "yyyy-MM-dd").alias("__d__"),
            "__ydec__",
            "__dow__",
        ),
        8192,  # ship-date calendar span, ≤ ~3,300 days at any SF
        "backtest daily calendar rollup",
    )
    from decimal import Decimal

    spine = []  # (fold, test_start, n_train_days)
    pred_expr = None  # CASE (fold, dow) -> literal model mean
    for i, (start, end) in enumerate(_BACKTEST_FOLDS, 1):
        train = [r for r in cal if r["__d__"] < start]
        spine.append((i, start, len(train)))
        sums: dict = {}
        counts: dict = {}
        for r in train:
            d = r["__dow__"]
            sums[d] = sums.get(d, Decimal(0)) + r["__ydec__"]
            counts[d] = counts.get(d, 0) + 1
        for d in sorted(counts):
            # float(exact Decimal sum) is the same correctly-rounded
            # value as Spark's SUM(DECIMAL).cast(double); / is IEEE
            pred = float(sums[d]) / counts[d]
            cond = (F.col("__fold__") == i) & (F.col("__dow__") == d)
            pred_expr = (
                F.when(cond, pred)
                if pred_expr is None
                else pred_expr.when(cond, pred)
            )
    if pred_expr is None:  # no train days anywhere: model join is empty
        pred_expr = F.lit(None).cast("double")
    fold_expr = None  # CASE day -> containing test window, else NULL
    for i, (start, end) in enumerate(_BACKTEST_FOLDS, 1):
        cond = (
            F.col("__day__") >= F.lit(start).cast("timestamp")
        ) & (F.col("__day__") < F.lit(end).cast("timestamp"))
        fold_expr = (
            F.when(cond, i) if fold_expr is None else fold_expr.when(cond, i)
        )
    err = F.col("__y__") - F.col("__pred__")
    scored = (
        daily.select("__y__", fold_expr.cast("bigint").alias("__fold__"), "__dow__")
        .filter(F.col("__fold__").isNotNull())
        .select("__fold__", "__y__", pred_expr.alias("__pred__"))
        # a day-of-week absent from a fold's train set has no model
        # row — the removed inner join dropped such test days
        .filter(F.col("__pred__").isNotNull())
        .select(
            "__fold__",
            F.round(F.abs(err) * F.lit(1e6)).cast("bigint").alias("__ae__"),
            F.round(err * F.lit(1e6)).cast("bigint").alias("__e__"),
        )
        .groupBy("__fold__")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n__"),
            F.sum("__ae__").cast("bigint").alias("__sae__"),
            F.sum("__e__").cast("bigint").alias("__se__"),
        )
    )
    spine_df = spark.createDataFrame(
        spine, "fold bigint, test_start string, n_train_days bigint"
    )
    ntest = F.coalesce(F.col("__n__"), F.lit(0).cast("bigint"))
    denom = F.when(ntest != 0, ntest.cast("double"))
    return (
        spine_df.join(
            scored, spine_df["fold"] == scored["__fold__"], "left"
        ).select(
            "fold",
            "test_start",
            "n_train_days",
            ntest.alias("n_test_days"),
            F.round(
                F.col("__sae__").cast("double") / denom / F.lit(1e6), 2
            ).alias("mae"),
            F.round(
                F.col("__se__").cast("double") / denom / F.lit(1e6), 2
            ).alias("mean_bias"),
        )
    )


def _backtest_fold_sql(i: int, start: str, end: str) -> str:
    return f"""
SELECT CAST({i} AS BIGINT) AS fold,
       '{start}' AS test_start,
       (SELECT COUNT(*)::BIGINT FROM daily
        WHERE day < TIMESTAMP '{start}') AS n_train_days,
       COUNT(*)::BIGINT AS n_test_days,
       ROUND(CAST(SUM(CAST(ROUND(ABS(t.y - m.pred) * 1e6) AS BIGINT))
                  AS DOUBLE)
             / NULLIF(COUNT(*), 0) / 1e6, 2) AS mae,
       ROUND(CAST(SUM(CAST(ROUND((t.y - m.pred) * 1e6) AS BIGINT))
                  AS DOUBLE)
             / NULLIF(COUNT(*), 0) / 1e6, 2) AS mean_bias
FROM (SELECT * FROM daily
      WHERE day >= TIMESTAMP '{start}' AND day < TIMESTAMP '{end}') t
JOIN (SELECT dow, CAST(SUM(ydec) AS DOUBLE) / COUNT(*) AS pred FROM daily
      WHERE day < TIMESTAMP '{start}' GROUP BY 1) m
  ON t.dow = m.dow
"""


_BACKTEST_SQL = (
    """
WITH daily AS (
  SELECT date_trunc('day', l_shipdate) AS day,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS y,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS ydec,
         date_diff('day', DATE '1995-01-02', date_trunc('day', l_shipdate))
           % 7 AS dow
  FROM lineitem GROUP BY 1
)
"""
    + " UNION ALL ".join(
        _backtest_fold_sql(i, s, e)
        for i, (s, e) in enumerate(_BACKTEST_FOLDS, 1)
    )
)


def source_quality_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source mean quality
    (extension: the random-effects estimator a mixture owner uses to
    rank SMALL sources reliably — a 20-doc source's raw mean is noise;
    DerSimonian & Laird 1986 shrinks it toward the corpus mean with a
    weight from the between/within variance decomposition): per-source
    moments from FLOOR-quantized integer-micro quality scores (the
    adaptive-filter recipe), pooled within-variance σ̂² = SSW/(N−k),
    between-heterogeneity τ̂² = max(0, (Q − (k−1)σ̂²)/(N − Σn²/N)),
    shrink weight Bₛ = τ̂²/(τ̂² + σ̂²/nₛ), shrunk mean = grand +
    Bₛ·(raw − grand). The two variance-component sums (SSW's
    per-source terms, Q's per-source terms) quantize to integer nanos
    BEFORE their k-row aggregation (the PCA convention — no
    cross-engine float-sum-order drift); degenerate all-identical
    corpora give τ̂²+σ̂²/n = 0 → NULL weight → shrunk = grand via the
    COALESCE convention."""
    from tmdb_index_spark.functions.text import LANG_MARKERS, tokens

    docs = _t(spark, sf_dir, "documents")
    c = F.coalesce(F.col("text"), F.lit(""))
    t = tokens(c)
    stop = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stop, F.lower(w))))
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    score_q = (
        F.floor(
            F.lit(1e6) * n_stop.cast("double")
            / F.greatest(F.size(t), F.lit(1)).cast("double")
        )
        - F.floor(
            F.lit(1e6) * n_punct.cast("double")
            / F.greatest(F.length(c), F.lit(1)).cast("double")
        )
    ).cast("long")
    per = (
        docs.select("source", score_q.alias("__q__"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n__"),
            F.sum("__q__").cast("bigint").alias("__s__"),
            F.sum(
                F.col("__q__").cast("decimal(19,0)")
                * F.col("__q__").cast("decimal(19,0)")
            ).cast("decimal(38,0)").alias("__ss__"),
        )
    )
    mean_s = F.col("__s__").cast("double") / F.col("__n__").cast("double")
    # per-source variance-component terms, quantized to integer nanos
    # (micros² scale) before the k-row aggregation
    ssw_term = F.col("__ss__").cast("double") - (
        F.col("__s__").cast("double") * F.col("__s__").cast("double")
        / F.col("__n__").cast("double")
    )
    terms = per.select(
        "source",
        "__n__",
        "__s__",
        F.round(ssw_term * F.lit(1e-3)).cast("bigint").alias("__ssw_m__"),
        mean_s.alias("__mean__"),
    )
    tot = terms.agg(
        F.sum("__n__").cast("bigint").alias("__nall__"),
        F.sum("__s__").cast("bigint").alias("__sall__"),
        F.count(F.lit(1)).cast("bigint").alias("__k__"),
        F.sum("__ssw_m__").cast("bigint").alias("__ssw__"),
        F.sum(F.col("__n__") * F.col("__n__")).cast("bigint").alias(
            "__n2__"
        ),
    )
    grand = F.col("__sall__").cast("double") / F.col("__nall__").cast("double")
    joined = terms.join(F.broadcast(tot)).withColumn(
        "__q_term__",
        F.round(
            F.col("__n__").cast("double")
            * (F.col("__mean__") - grand)
            * (F.col("__mean__") - grand)
            * F.lit(1e-3)
        ).cast("bigint"),
    )
    qsum = joined.agg(F.sum("__q_term__").cast("bigint").alias("__qsum__"))
    out = joined.join(F.broadcast(qsum))
    sigma2 = (
        F.col("__ssw__").cast("double")
        * F.lit(1e3)
        / F.expr("CAST(NULLIF(__nall__ - __k__, 0) AS DOUBLE)")
    )
    tau2 = F.greatest(
        F.lit(0.0),
        (F.col("__qsum__").cast("double") * F.lit(1e3)
         - (F.col("__k__") - 1).cast("double") * sigma2)
        / F.expr(
            "CAST(NULLIF(CAST(__nall__ AS DOUBLE)"
            " - CAST(__n2__ AS DOUBLE) / CAST(__nall__ AS DOUBLE), 0.0)"
            " AS DOUBLE)"
        ),
    )
    b = tau2 / F.expr(
        "NULLIF({t} + {s} / CAST(__n__ AS DOUBLE), 0.0)".format(
            t="GREATEST(CAST(0.0 AS DOUBLE), (CAST(__qsum__ AS DOUBLE) * 1e3"
              " - (CAST(__k__ AS DOUBLE) - 1.0) * (CAST(__ssw__ AS DOUBLE)"
              " * 1e3 / NULLIF(CAST(__nall__ - __k__ AS DOUBLE), 0.0)))"
              " / NULLIF(CAST(__nall__ AS DOUBLE) - CAST(__n2__ AS DOUBLE)"
              " / CAST(__nall__ AS DOUBLE), 0.0))",
            s="(CAST(__ssw__ AS DOUBLE) * 1e3"
              " / NULLIF(CAST(__nall__ - __k__ AS DOUBLE), 0.0))",
        )
    )
    shrunk = grand + F.coalesce(b, F.lit(0.0)) * (F.col("__mean__") - grand)
    return out.select(
        "source",
        F.col("__n__").alias("n_docs"),
        F.round(F.col("__mean__") / F.lit(1e6), 6).alias("raw_mean"),
        F.round(b, 6).alias("shrink_weight"),
        F.round(shrunk / F.lit(1e6), 6).alias("shrunk_mean"),
    )


# One source of truth for the English-marker literal both ablation
# oracles embed (round-9 ADVICE: the hardcoded copies would silently
# desync from LANG_MARKERS on a lexicon edit — _code_switch_sql already
# derives its marker lists this way).
_EN_MARKERS_SQL = (
    "[" + ",".join(f"'{m}'" for m in LANG_MARKERS["en"]) + "]"
)

_SHRINKAGE_SQL = """
WITH t AS (
  SELECT source, coalesce(text, '') AS text,
         regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS ts
  FROM documents
),
scored AS (
  SELECT source,
         CAST(FLOOR(1e6 * len(list_filter(ts, w -> list_contains(
                  __EN_MARKERS__, lower(w)))) * 1.0
                / greatest(len(ts), 1))
            - FLOOR(1e6 * (length(text)
                - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
                / greatest(length(text), 1)) AS BIGINT) AS q
  FROM t
),
per AS (
  SELECT source, COUNT(*)::BIGINT AS n, SUM(q)::BIGINT AS s,
         CAST(SUM(CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0)))
              AS DECIMAL(38,0)) AS ss
  FROM scored GROUP BY 1
),
terms AS (
  SELECT source, n, s,
         CAST(ROUND((CAST(ss AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              * 1e-3) AS BIGINT) AS ssw_m,
         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_s
  FROM per
),
tot AS (
  SELECT SUM(n)::BIGINT AS nall, SUM(s)::BIGINT AS sall,
         COUNT(*)::BIGINT AS k, SUM(ssw_m)::BIGINT AS ssw,
         SUM(n * n)::BIGINT AS n2
  FROM terms
),
qterms AS (
  SELECT source, n, mean_s, nall, sall, k, ssw, n2,
         CAST(ROUND(CAST(n AS DOUBLE)
              * (mean_s - CAST(sall AS DOUBLE) / CAST(nall AS DOUBLE))
              * (mean_s - CAST(sall AS DOUBLE) / CAST(nall AS DOUBLE))
              * 1e-3) AS BIGINT) AS q_term
  FROM terms CROSS JOIN tot
),
qsum AS (SELECT SUM(q_term)::BIGINT AS qsum FROM qterms)
SELECT source,
       n AS n_docs,
       ROUND(mean_s / 1e6, 6) AS raw_mean,
       ROUND(
         GREATEST(0.0, (CAST(qsum AS DOUBLE) * 1e3
             - (CAST(k AS DOUBLE) - 1.0) * (CAST(ssw AS DOUBLE) * 1e3
               / NULLIF(CAST(nall - k AS DOUBLE), 0.0)))
           / NULLIF(CAST(nall AS DOUBLE)
               - CAST(n2 AS DOUBLE) / CAST(nall AS DOUBLE), 0.0))
         / NULLIF(
             GREATEST(0.0, (CAST(qsum AS DOUBLE) * 1e3
                 - (CAST(k AS DOUBLE) - 1.0) * (CAST(ssw AS DOUBLE) * 1e3
                   / NULLIF(CAST(nall - k AS DOUBLE), 0.0)))
               / NULLIF(CAST(nall AS DOUBLE)
                   - CAST(n2 AS DOUBLE) / CAST(nall AS DOUBLE), 0.0))
             + (CAST(ssw AS DOUBLE) * 1e3
                / NULLIF(CAST(nall - k AS DOUBLE), 0.0))
               / CAST(n AS DOUBLE), 0.0), 6) AS shrink_weight,
       ROUND((CAST(sall AS DOUBLE) / CAST(nall AS DOUBLE)
         + COALESCE(
             GREATEST(0.0, (CAST(qsum AS DOUBLE) * 1e3
                 - (CAST(k AS DOUBLE) - 1.0) * (CAST(ssw AS DOUBLE) * 1e3
                   / NULLIF(CAST(nall - k AS DOUBLE), 0.0)))
               / NULLIF(CAST(nall AS DOUBLE)
                   - CAST(n2 AS DOUBLE) / CAST(nall AS DOUBLE), 0.0))
             / NULLIF(
                 GREATEST(0.0, (CAST(qsum AS DOUBLE) * 1e3
                     - (CAST(k AS DOUBLE) - 1.0) * (CAST(ssw AS DOUBLE) * 1e3
                       / NULLIF(CAST(nall - k AS DOUBLE), 0.0)))
                   / NULLIF(CAST(nall AS DOUBLE)
                       - CAST(n2 AS DOUBLE) / CAST(nall AS DOUBLE), 0.0))
                 + (CAST(ssw AS DOUBLE) * 1e3
                    / NULLIF(CAST(nall - k AS DOUBLE), 0.0))
                   / CAST(n AS DOUBLE), 0.0), 0.0)
           * (mean_s - CAST(sall AS DOUBLE) / CAST(nall AS DOUBLE)))
         / 1e6, 6) AS shrunk_mean
FROM qterms CROSS JOIN qsum
""".replace("__EN_MARKERS__", _EN_MARKERS_SQL)


