"""Tests for embedding similarity search (brute-force cosine top-k and
sign-bit LSH scale path)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tmdb_index_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    ivf_assign,
    ivf_topk,
    lsh_topk,
    signbit_buckets,
)

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
    (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
    (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
    (4, [0.8, 0.2, 0.0, 0.0]),
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_cosine_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 3.0])],
        "a array<double>, b array<double>",
    )
    got = [r["c"] for r in df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert got == [0.0, 0.9923]


def test_brute_force_topk_ranks_by_similarity(spark):
    emb = _emb(spark)
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in ranked] == [1, 4, 2]
    assert ranked[0]["cos_sim"] > ranked[1]["cos_sim"] > ranked[2]["cos_sim"]
    # self-match excluded, opposite vector ranked out of top 3
    assert all(r["neighbor_id"] != 0 for r in out)


def test_signbit_buckets_group_by_sign(spark):
    out = {r["vec_id"]: r["bucket"] for r in signbit_buckets(_emb(spark), n_bits=4).collect()}
    # vec 3 differs from vec 0 in the first coordinate's sign only
    assert out[0] == out[1] == out[2] == out[4]
    assert out[3] != out[0]


def test_lsh_topk_within_bucket_only(spark):
    out = lsh_topk(_emb(spark), k=2, n_bits=4).collect()
    # vec 3 is alone in its bucket -> contributes no rows
    assert all(r["query_id"] != 3 for r in out)
    assert all(r["neighbor_id"] != 3 for r in out)
    by_query = {}
    for r in out:
        by_query.setdefault(r["query_id"], []).append(r)
    # 0's nearest within-bucket neighbor is 1
    best0 = min(by_query[0], key=lambda r: r["rank"])
    assert best0["neighbor_id"] == 1


CENTROIDS = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]


def test_ivf_assign_nearest_centroid(spark):
    out = {r["vec_id"]: r["cell"] for r in ivf_assign(_emb(spark), CENTROIDS).collect()}
    # vecs 0,1,4 point along x -> cell 0; vec 2 along y -> cell 1;
    # vec 3 (-x) is equidistant-ish but closer to... dist to c0=(−1−1)²=4,
    # c1=1+1=2 -> cell 1.
    assert out[0] == 0 and out[1] == 0 and out[4] == 0
    assert out[2] == 1 and out[3] == 1


def test_ivf_topk_within_cell(spark):
    out = ivf_topk(_emb(spark), CENTROIDS, k=2).collect()
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(_emb(spark), CENTROIDS).collect()}
    for r in out:
        assert cells[r["query_id"]] == cells[r["neighbor_id"]]
    best0 = min((r for r in out if r["query_id"] == 0), key=lambda r: r["rank"])
    assert best0["neighbor_id"] == 1


def test_lsh_multi_probe_recovers_boundary_neighbors(spark):
    # vec 3 (-x) sits alone in its bucket single-probe; one bit flip
    # reaches the others' bucket, so multi-probe finds its neighbors.
    single = lsh_topk(_emb(spark), k=2, n_bits=4)
    multi = lsh_topk(_emb(spark), k=2, n_bits=4, multi_probe=True)
    assert all(r["query_id"] != 3 for r in single.collect())
    multi_q3 = [r for r in multi.collect() if r["query_id"] == 3]
    assert multi_q3, "multi-probe must give vector 3 neighbors"
    # recall against brute force for vec 3's true top neighbor
    brute = brute_force_topk(
        _emb(spark), _emb(spark).filter(F.col("vec_id") == 3), k=1
    ).collect()[0]
    best_multi = min(multi_q3, key=lambda r: r["rank"])
    assert best_multi["neighbor_id"] == brute["neighbor_id"]


def test_cosine_neardup_exact_vs_bucketed(spark):
    from tmdb_index_spark.operators.similarity import cosine_neardup_pairs

    exact = cosine_neardup_pairs(_emb(spark), threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert got == {(0, 1), (0, 4), (1, 4)}  # the x-axis cluster
    bucketed = cosine_neardup_pairs(_emb(spark), threshold=0.9, n_bits=4)
    assert {(r["id_a"], r["id_b"]) for r in bucketed.collect()} == got


def test_cosine_neardup_pandas_matches_expr(spark):
    """The broadcast-matrix BLAS exact path (default) must reproduce
    the fold spelling exactly — values included — on fixture AND real
    data (sims rounded to 4 before the threshold in both)."""
    from tmdb_index_spark.operators.similarity import cosine_neardup_pairs

    for df, thr in (
        (_emb(spark), 0.9),
        (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"), 0.4),
    ):
        blas = sorted(map(tuple, cosine_neardup_pairs(df, thr).collect()))
        fold = sorted(
            map(tuple, cosine_neardup_pairs(df, thr, impl="expr").collect())
        )
        assert blas == fold and blas

    import pytest

    with pytest.raises(ValueError, match="impl"):
        cosine_neardup_pairs(_emb(spark), impl="nope", n_bits=4)


def test_neardup_index_pairs_subset_of_exact(spark):
    """The self-tuned bucketed near-dup twin must emit a SUBSET of the
    exact baseline's pairs with identical sims (bucketing can only
    drop boundary pairs, never invent or rescore one), and its bit
    rule must follow lsh_index_topk's occupancy formula."""
    from tmdb_index_spark.operators.similarity import (
        cosine_neardup_pairs,
        neardup_index_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_neardup_pairs(emb, 0.4).collect()
    }
    tuned = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in neardup_index_pairs(emb, 0.4).collect()
    }
    assert tuned and set(tuned) <= set(exact)
    assert all(exact[p] == s for p, s in tuned.items())

    # a tiny n_estimate clamps to the 1-bit floor: identical to the
    # fixed-bits spelling at n_bits=1 (the rule, not the plumbing,
    # decides the bucket count)
    floor_bits = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in neardup_index_pairs(emb, 0.4, n_estimate=2).collect()
    }
    fixed_1 = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_neardup_pairs(emb, 0.4, n_bits=1).collect()
    }
    assert floor_bits == fixed_1 and set(floor_bits) <= set(exact)

    import pytest

    with pytest.raises(ValueError, match="n_estimate"):
        neardup_index_pairs(emb, 0.4, n_estimate=0)


def test_cosine_neardup_exact_corpus_bound_enforced(spark):
    """The exact path's driver-side corpus broadcast carries a DECLARED
    bound: an over-bound corpus must fail loudly (bounded_collect),
    pointing at the bucketed scale path."""
    import pytest

    with pytest.raises(RuntimeError, match="n_bits"):
        from tmdb_index_spark.operators.similarity import cosine_neardup_pairs

        cosine_neardup_pairs(_emb(spark), threshold=0.9, max_exact=2).collect()


def test_ivf_multiprobe_pandas_matches_expr(spark):
    """The cogrouped per-cell BLAS multi-probe path (default) must
    reproduce the expression twin exactly, fixture and real data —
    per-cell top-k pruning cannot change the global rounded ranking."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from tmdb_index_spark.operators.similarity import fit_centroids

    for df, cents in ((_emb(spark), CENTROIDS), (emb, fit_centroids(emb, 8))):
        blas = sorted(
            map(tuple, ivf_topk(df, cents, k=3, nprobe=2).collect())
        )
        expr = sorted(
            map(tuple, ivf_topk(df, cents, k=3, nprobe=2, impl="expr").collect())
        )
        assert blas == expr and blas

    import pytest

    with pytest.raises(ValueError, match="impl"):
        ivf_topk(_emb(spark), CENTROIDS, nprobe=2, impl="nope")


def test_block_topk_ranking_contract_without_spark():
    """The shared numpy rank kernel on plain arrays: exact ties on the
    rounded sim break to the lower neighbor id, self and ``~valid``
    entries emit nothing, a NaN sim ranks last, and ``k`` past the
    candidate count returns every candidate — then a randomized block
    against a per-row sorted reference."""
    import numpy as np

    from tmdb_index_spark.operators.similarity import _block_topk

    def rows(*args):
        return list(zip(*[a.tolist() for a in _block_topk(*args)]))

    qids = np.array([7, 3], dtype="int64")
    cids = np.array([9, 3, 5, 7, 1], dtype="int64")
    sims = np.array(
        [[0.5, 0.9, 0.5, 1.0, 0.5], [0.2, 1.0, 0.7, 0.7, np.nan]]
    )
    valid = np.ones(sims.shape, dtype=bool)
    valid[1, 2] = False  # query 3 × neighbor 5
    got = rows(qids, cids, sims, valid, 10)
    assert got[:6] == [
        (7, 3, 0.9, 1), (7, 1, 0.5, 2), (7, 5, 0.5, 3), (7, 9, 0.5, 4),
        (3, 7, 0.7, 1), (3, 9, 0.2, 2),
    ]
    assert len(got) == 7 and got[6][:2] == (3, 1) and np.isnan(got[6][2])
    assert rows(qids, cids, sims, valid, 2) == [
        (7, 3, 0.9, 1), (7, 1, 0.5, 2), (3, 7, 0.7, 1), (3, 9, 0.2, 2),
    ]
    assert [r[1] for r in rows(qids, cids, sims, None, 10) if r[0] == 3][:2] == [
        5, 7
    ]
    none = np.empty((0, 0))
    assert rows(qids[:0], cids[:0], none, None, 3) == []

    rng = np.random.RandomState(0)
    for _ in range(50):
        nq, nc, k = rng.randint(0, 6), rng.randint(0, 9), rng.randint(1, 6)
        cids = rng.permutation(20)[:nc].astype("int64")
        qids = rng.choice(np.append(cids, 99), nq).astype("int64")
        sims = rng.choice([0.1, 0.25, 0.5], (nq, nc))
        valid = rng.rand(nq, nc) > 0.2
        exp = []
        for i in range(nq):
            cand = sorted(
                (-sims[i, j], int(cids[j]))
                for j in range(nc)
                if cids[j] != qids[i] and valid[i, j]
            )[:k]
            exp += [
                (int(qids[i]), c, -ns, r) for r, (ns, c) in enumerate(cand, 1)
            ]
        assert rows(qids, cids, sims, valid, k) == exp


def test_ivf_assign_blas_matches_expr(spark):
    """The BLAS assignment (scale path) must place every vector in the
    same cell as the exact-fold assignment, on real data too."""
    expr = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(_emb(spark), CENTROIDS, impl="expr").collect()
    }
    blas = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(_emb(spark), CENTROIDS, impl="pandas").collect()
    }
    assert expr == blas

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from tmdb_index_spark.operators.similarity import fit_centroids

    cents = fit_centroids(emb, 8)
    e = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, cents, impl="expr").collect()
    }
    b = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, cents, impl="pandas").collect()
    }
    assert e == b

    import pytest

    with pytest.raises(ValueError, match="impl"):
        ivf_assign(_emb(spark), CENTROIDS, impl="nope")


def test_ivf_topk_pandas_matches_sql(spark):
    # The BLAS applyInPandas path and the column-expression path must
    # agree exactly after the shared ROUND(...,4) ranking contract.
    a = sorted(map(tuple, ivf_topk(_emb(spark), CENTROIDS, k=2, impl="expr").collect()))
    b = sorted(map(tuple, ivf_topk(_emb(spark), CENTROIDS, k=2, impl="pandas").collect()))
    assert a == b and a


def test_ivf_multiprobe_recovers_brute_force_when_exhaustive(spark):
    # nprobe == number of cells means every query searches every cell:
    # the "approximate" search must reproduce brute force exactly.
    mp = ivf_topk(_emb(spark), CENTROIDS, k=2, nprobe=2).collect()
    emb = _emb(spark)
    brute = brute_force_topk(emb, emb, k=2).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.cos_sim) for r in rows)
    assert key(mp) == key(brute)

    # single-probe is a strict subset of the candidate space: its best
    # hit can never beat multi-probe's best hit for any query.
    sp = ivf_topk(_emb(spark), CENTROIDS, k=2, impl="expr").collect()
    best = {}
    for r in sp:
        if r.rank == 1:
            best[r.query_id] = r.cos_sim
    for r in mp:
        if r.rank == 1 and r.query_id in best:
            assert r.cos_sim >= best[r.query_id]


def test_fitted_centroids_balance_cells_and_are_deterministic(spark):
    from tmdb_index_spark.operators.similarity import fit_centroids, ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    c1 = fit_centroids(emb, k=8)
    c2 = fit_centroids(emb, k=8)
    assert c1 == c2  # bit-identical across reruns
    sizes = [
        r["count"]
        for r in ivf_assign(emb, c1).groupBy("cell").count().collect()
    ]
    # fitted cells must be reasonably balanced: no cell above 3x the mean
    assert len(sizes) >= 2
    assert max(sizes) <= 3 * (sum(sizes) / len(sizes))
    # and usable end-to-end
    out = ivf_topk(emb.limit(50), c1, k=2)
    assert out.count() > 0


def test_ivf_index_topk_self_tuning_contract(spark):
    from tmdb_index_spark.operators.similarity import ivf_index_topk

    emb = _emb(spark)
    res = ivf_index_topk(emb, k=2, cells=2, n_estimate=len(VECS))
    assert res.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    out = res.collect()
    assert out  # 5 near-collinear vectors in 2 cells -> some neighbors
    assert all(r["rank"] <= 2 and r["query_id"] != r["neighbor_id"] for r in out)
    # deterministic: fitting + assignment are seeded and tie-stable
    again = ivf_index_topk(emb, k=2, cells=2, n_estimate=len(VECS)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_ivf_index_topk_default_cells_sqrt_n(spark):
    from tmdb_index_spark.operators import similarity as S

    seen = {}
    orig = S.fit_centroids

    def spy(df, k, *a, **kw):
        seen["cells"] = k
        return orig(df, k, *a, **kw)

    S.fit_centroids, fit = spy, orig
    try:
        S.ivf_index_topk(_emb(spark), k=1, n_estimate=10_000)
    finally:
        S.fit_centroids = fit
    assert seen["cells"] == 100  # round(sqrt(10000))


def test_lsh_index_topk_selftunes_bits(spark):
    from tmdb_index_spark.operators.similarity import lsh_index_topk, lsh_topk

    emb = _emb(spark)
    # n=5, target_bucket=2 -> bits = ceil(log2(2.5)) = 2; must equal the
    # fixed-bits run at 2 bits exactly (the wrapper only picks n_bits)
    got = sorted(
        lsh_index_topk(emb, k=2, n_estimate=5, target_bucket=2, dim=4).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    want = sorted(
        lsh_topk(emb, k=2, n_bits=2).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    assert got == want


def test_lsh_index_topk_caps_bits_at_dim(spark):
    from tmdb_index_spark.operators.similarity import lsh_index_topk

    emb = _emb(spark)
    # huge n_estimate would want ~25 bits; dim=4 must cap it (element_at
    # beyond the array would null every bucket contribution otherwise)
    out = lsh_index_topk(emb, k=2, n_estimate=10**9, target_bucket=2, dim=4)
    assert out.count() >= 0  # plan builds and runs


def test_lsh_index_topk_empty_corpus_and_bad_estimate(spark):
    import pytest

    from tmdb_index_spark.operators.similarity import lsh_index_topk

    empty = _emb(spark).filter(F.col("vec_id") < 0)
    # empty corpus with n_bits and dim both unset: the head() probe
    # finds no row; contract is the empty result frame, not a crash
    out = lsh_index_topk(empty, k=2)
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]
    assert out.count() == 0
    with pytest.raises(ValueError, match="n_estimate"):
        lsh_index_topk(_emb(spark), k=2, n_estimate=0)


def test_tuned_catalog_queries_match_fixed_twin_and_brute_recall(spark):
    """The registered tuned-ANN catalog queries: embedding_lsh_tuned_topk
    must equal lsh_topk at the bits its formula computes for the fixture
    (N=500, target 32 -> ceil(log2(500/32)) = 4), and the self-tuned IVF
    index must recover a solid share of the true brute-force top-1
    neighbors (recall is the documented LSH/IVF trade, not exactness)."""
    from tmdb_index_spark import queries as Q
    from tmdb_index_spark.operators.similarity import brute_force_topk

    sf = "/root/testdata/sf0.001"
    tuned = sorted(
        map(tuple, Q.QUERIES["embedding_lsh_tuned_topk"](spark, sf).collect())
    )
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    want = sorted(map(tuple, lsh_topk(emb, k=3, n_bits=4).collect()))
    assert tuned == want

    ivf = Q.QUERIES["embedding_ivf_tuned_topk"](spark, sf)
    top1 = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf.filter(F.col("rank") == 1).collect()
    }
    brute1 = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, emb, k=1).collect()
    }
    hit = len(top1 & brute1) / len(brute1)
    # N=500 -> cells = round(sqrt(500)) = 22; a random partition would
    # co-locate a query with its true top-1 ~1/22 = 4.5% of the time.
    # Fitted cells measure ~29% on this synthetic corpus (uniform random
    # directions are near-orthogonal in 64-d — the hardest case for any
    # geometric index); require >= 3x chance so the test pins "the fit
    # is doing real geometric work" without overfitting one RNG draw.
    assert hit >= 3 / 22, f"IVF top-1 recall {hit:.2f} vs brute force"


def test_lsh_knn_join_matches_bucketed_candidates(spark):
    import pyspark.sql.functions as F

    from tmdb_index_spark.operators.similarity import (
        brute_force_topk,
        lsh_knn_join,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("label") == 0)
    got = lsh_knn_join(
        emb, queries, k=1, n_bits=2, multi_probe=True, exclude_self=True
    )
    # 2 bits + full 1-bit probing covers 3 of 4 buckets per query: on
    # near-orthogonal synthetic vectors recall of the brute top-1 should
    # be well above the 3/4 bucket-coverage floor
    brute = brute_force_topk(emb, queries, k=1)
    top1 = {(r["query_id"], r["neighbor_id"]) for r in got.filter("rank = 1").collect()}
    btop1 = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    assert len(top1 & btop1) / len(btop1) >= 0.5
    # every query emitted at most k rows with ranks 1..k
    counts = got.groupBy("query_id").count().collect()
    assert all(r["count"] <= 1 for r in counts)


def test_lsh_knn_join_single_probe_subset(spark):
    import pyspark.sql.functions as F

    from tmdb_index_spark.operators.similarity import lsh_knn_join

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("label") == 0)
    # k above any possible candidate count: compare raw candidate sets,
    # not rank-truncated ones
    single = lsh_knn_join(
        emb, queries, k=10_000, n_bits=4, multi_probe=False, exclude_self=True
    )
    multi = lsh_knn_join(
        emb, queries, k=10_000, n_bits=4, multi_probe=True, exclude_self=True
    )
    s_pairs = {(r["query_id"], r["neighbor_id"]) for r in single.collect()}
    m_pairs = {(r["query_id"], r["neighbor_id"]) for r in multi.collect()}
    # multi-probe candidates strictly contain the single-probe set
    assert s_pairs <= m_pairs
    assert len(m_pairs) > len(s_pairs)


def test_lsh_knn_join_corpus_never_shuffles(spark):
    import pyspark.sql.functions as F

    from tmdb_index_spark.operators.similarity import lsh_knn_join

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    df = lsh_knn_join(
        emb, emb.filter(F.col("label") == 0), k=3, broadcast_queries=True
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the only Exchange allowed on the corpus path is the final
    # per-query window's hashpartitioning on query_id — the scored scan
    # side must reach the join without one
    before_join = p.split("BroadcastHashJoin")[-1]
    assert "Exchange hashpartitioning(bucket" not in before_join


def test_lsh_topk_pandas_impl_matches_expr(spark):
    from tmdb_index_spark.operators.similarity import lsh_topk

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    expr = sorted(map(tuple, lsh_topk(emb, k=3, n_bits=4, impl="expr").collect()))
    pan = sorted(map(tuple, lsh_topk(emb, k=3, n_bits=4, impl="pandas").collect()))
    assert pan == expr


def test_lsh_topk_pandas_rejects_multiprobe(spark):
    import pytest

    from tmdb_index_spark.operators.similarity import lsh_topk

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    with pytest.raises(ValueError):
        lsh_topk(emb, impl="pandas", multi_probe=True)


# ------------------------------------------------------------- centroids


def test_label_centroids_known_geometry(spark):
    from tmdb_index_spark.operators.similarity import label_centroid_cosine

    rows = [
        ("x", [1.0, 0.0]), ("x", [1.0, 0.0]),
        ("y", [0.0, 1.0]),
        ("z", [1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    out = {
        (r["label_a"], r["label_b"]): (r["n_a"], r["n_b"], r["cos_sim"])
        for r in label_centroid_cosine(df).collect()
    }
    assert out[("x", "y")] == (2, 1, 0.0)          # orthogonal
    assert out[("x", "z")] == (2, 1, 0.7071)       # 45 degrees
    assert out[("y", "z")] == (1, 1, 0.7071)
    assert len(out) == 3  # each unordered pair once


def test_label_centroids_mean_not_sum(spark):
    from tmdb_index_spark.operators.similarity import label_centroid_cosine

    # label "big" has 10 copies of the same vector as "small"'s one:
    # centroids identical -> cosine exactly 1
    rows = [("big", [3.0, 4.0])] * 10 + [("small", [3.0, 4.0])]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    out = label_centroid_cosine(df).collect()[0]
    assert out["cos_sim"] == 1.0
    assert {out["n_a"], out["n_b"]} == {10, 1}


# ---- two-level (hierarchical) IVF ------------------------------------


def _rand_emb(spark, n=200, d=8, seed=7):
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.randn(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_two_level_exhaustive_probe_equals_flat_assignment(spark):
    # With probe_coarse >= |coarse| the two-stage assignment scans
    # every fine cell, so it must equal flat BLAS ivf_assign exactly
    # (same distances, same lower-cell tie rule).
    from tmdb_index_spark.operators.similarity import (
        fit_two_level_centroids,
        two_level_ivf_assign,
    )

    emb = _rand_emb(spark)
    cc, fine, f2c = fit_two_level_centroids(emb, cells=12, coarse=3)
    flat = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, fine, impl="pandas").collect()
    }
    two = {
        r["vec_id"]: r["cell"]
        for r in two_level_ivf_assign(
            emb, cc, fine, f2c, probe_coarse=len(cc)
        ).collect()
    }
    assert two == flat


def test_two_level_single_probe_mostly_agrees_and_is_deterministic(spark):
    from tmdb_index_spark.operators.similarity import (
        fit_two_level_centroids,
        two_level_ivf_assign,
    )

    emb = _rand_emb(spark)
    cc, fine, f2c = fit_two_level_centroids(emb, cells=12, coarse=3)
    flat = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, fine, impl="pandas").collect()
    }
    one = {
        r["vec_id"]: r["cell"]
        for r in two_level_ivf_assign(emb, cc, fine, f2c, probe_coarse=1).collect()
    }
    again = {
        r["vec_id"]: r["cell"]
        for r in two_level_ivf_assign(emb, cc, fine, f2c, probe_coarse=1).collect()
    }
    assert one == again  # deterministic rebuild
    agree = sum(one[v] == flat[v] for v in flat) / len(flat)
    assert agree >= 0.8  # boundary misses only
    # every assigned cell is a real fine cell
    fine_ids = {int(f) for f, _ in fine}
    assert set(one.values()) <= fine_ids


def test_ivf2_index_topk_contract_and_recall(spark):
    from tmdb_index_spark.operators.similarity import (
        brute_force_topk,
        ivf2_index_topk,
    )

    emb = _rand_emb(spark, n=120)
    res = ivf2_index_topk(emb, k=2, n_estimate=120, probe_coarse=2)
    rows = res.collect()
    assert set(res.columns) == {"query_id", "neighbor_id", "cos_sim", "rank"}
    assert all(r["rank"] in (1, 2) for r in rows)
    # determinism across rebuilds
    again = ivf2_index_topk(emb, k=2, n_estimate=120, probe_coarse=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # sanity recall vs brute force top-1: an ANN index on 120 points
    # with learned cells should recover a reasonable share
    brute = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(emb, emb, k=1).collect()
    }
    got1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    hits = sum(got1.get(q) == n for q, n in brute.items())
    assert hits / len(brute) >= 0.3


def test_ivf2_default_cells_two_thirds_power(spark):
    from tmdb_index_spark.operators import similarity as S

    captured = {}
    orig = S.fit_two_level_centroids

    def spy(df, cells, coarse, *a, **kw):
        captured["cells"], captured["coarse"] = cells, coarse
        return orig(df, cells, coarse, *a, **kw)

    S.fit_two_level_centroids = spy
    try:
        S.ivf2_index_topk(_rand_emb(spark, n=64), k=1, n_estimate=1000)
    finally:
        S.fit_two_level_centroids = orig
    assert captured["cells"] == 100  # round(1000^(2/3))
    assert captured["coarse"] == 10  # sqrt(cells)


def test_semantic_dedup_impls_identical_and_election_contract(spark):
    """The per-cell BLAS election (applyInPandas) and the expr
    self-join twin must produce IDENTICAL flag sets (ROUND(...,4)
    absorbs BLAS-vs-fold ULPs), and the election must match the
    contract recomputed independently: drop iff a smaller-id cell-mate
    is >= threshold similar."""
    from tmdb_index_spark.operators.similarity import (
        fit_centroids,
        semantic_dedup_with_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = fit_centroids(emb, 14)
    pe = {
        (r["vec_id"], r["cell"], r["keep"])
        for r in semantic_dedup_with_centroids(
            emb, cents, 0.4, impl="pandas"
        ).collect()
    }
    ex = {
        (r["vec_id"], r["cell"], r["keep"])
        for r in semantic_dedup_with_centroids(
            emb, cents, 0.4, impl="expr"
        ).collect()
    }
    assert pe == ex and len(pe) == emb.count()
    dropped = {i for i, _, k in pe if not k}
    assert dropped  # the threshold produces real drops on this table

    # independent recomputation of the contract from raw vectors
    import numpy as np

    rows = emb.collect()
    cell_of = {i: c for i, c, _ in pe}
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["embedding"]) for r in rows], dtype="float64")
    nrm = np.sqrt((X * X).sum(axis=1))
    S = np.round((X @ X.T) / np.outer(nrm, nrm), 4)
    expect_drop = set()
    for j in range(len(ids)):
        for i in range(len(ids)):
            if (
                ids[i] < ids[j]
                and cell_of[ids[i]] == cell_of[ids[j]]
                and S[i, j] >= 0.4
            ):
                expect_drop.add(int(ids[j]))
                break
    assert dropped == expect_drop


def test_semantic_dedup_validation_and_allkeep(spark):
    import pytest

    from tmdb_index_spark.operators.similarity import (
        fit_centroids,
        semantic_dedup_with_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = fit_centroids(emb, 5)
    with pytest.raises(ValueError, match="impl"):
        semantic_dedup_with_centroids(emb, cents, 0.4, impl="nope")
    out = semantic_dedup_with_centroids(emb, cents, 1.01, impl="pandas")
    assert all(r["keep"] for r in out.collect())


def test_semantic_dedup_plan_no_cartesian(spark):
    """The expr twin's pair join must be an equi-join on cell — never
    a cartesian; the pandas path shuffles once on cell."""
    from tmdb_index_spark.operators.similarity import (
        fit_centroids,
        semantic_dedup_with_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = fit_centroids(emb, 8)
    p = (
        semantic_dedup_with_centroids(emb, cents, 0.4, impl="expr")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in p


# ---------------------------------------------------------------------------
# IVF-PQ (product quantization, ADC scoring)
# ---------------------------------------------------------------------------


def _pq_emb(spark):
    # 4-dim vectors = 2 subspaces of 2 dims for m=2 tests
    vecs = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.9, 0.1, 0.1, 0.9]),
        (2, [0.0, 1.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, -1.0]),
        (4, [0.8, 0.2, 0.2, 0.8]),
        (5, [0.1, 0.9, 0.9, 0.1]),
    ]
    return spark.createDataFrame(vecs, "vec_id long, embedding array<float>")


def test_pq_encode_matches_numpy_argmin(spark):
    import numpy as np

    from tmdb_index_spark.operators.similarity import (
        fit_pq_array,
        ivf_assign,
        pq_encode,
    )

    df = _pq_emb(spark)
    rows = sorted(df.collect(), key=lambda r: r["vec_id"])
    X = np.array([list(r["embedding"]) for r in rows], dtype="float64")
    books = fit_pq_array(X, m=2, ks=3)
    assigned = ivf_assign(df, [(0, [0.0] * 4)], impl="pandas")
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(assigned, books).collect()
    }
    CB = np.array(
        [[cv for _, cv in sorted(b, key=lambda t: t[0])] for b in books]
    )
    for i, r in enumerate(rows):
        want = [
            int(((X[i, 2 * j : 2 * j + 2] - CB[j]) ** 2).sum(axis=1).argmin())
            for j in range(2)
        ]
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_ivfpq_exact_codebooks_equal_brute_force(spark):
    # When every subvector is itself a codebook centroid, PQ
    # reconstruction is exact and ADC == exact cosine: with one IVF
    # cell the operator must reproduce brute-force top-k bit-for-bit.
    from tmdb_index_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    df = _pq_emb(spark)
    subvecs = sorted(
        {tuple(r["embedding"][:2]) for r in df.collect()}
        | {tuple(r["embedding"][2:]) for r in df.collect()}
    )
    book = [(i, [float(x) for x in v]) for i, v in enumerate(subvecs)]
    got = ivfpq_topk(
        df, [(0, [0.0] * 4)], [book, book], k=3
    ).collect()
    want = brute_force_topk(df, df, k=3).collect()
    got_m = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_sim"]) for r in got}
    want_m = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"]) for r in want}
    assert got_m == want_m


def test_ivfpq_index_topk_contract_and_determinism(spark):
    from tmdb_index_spark.operators.similarity import ivfpq_index_topk

    df = _pq_emb(spark)
    out1 = sorted(
        ivfpq_index_topk(df, k=2, m=2, ks=3).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    out2 = sorted(
        ivfpq_index_topk(df, k=2, m=2, ks=3).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert all(r["query_id"] != r["neighbor_id"] for r in out1)
    assert all(1 <= r["rank"] <= 2 for r in out1)
    # ranks are dense per query, scores non-increasing
    by_q = {}
    for r in out1:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r["adc_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_ivfpq_zero_norm_vectors_emit_no_nan_rows(spark):
    # A zero-norm query or a code word reconstructing to zero has no
    # defined cosine: the pair must emit NO row (round-13 ADVICE — an
    # unguarded 0/0 NaN ranks ABOVE every real candidate in the
    # engines' descending order and diverges from the oracle), in both
    # the single-probe and the multi-probe ADC paths.
    import math

    from tmdb_index_spark.operators.similarity import ivfpq_topk

    vecs = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [0.9, 0.1, 0.1, 0.9]),
        (2, [0.0, 1.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero-norm query AND neighbor
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    # a codebook containing the zero word, so id 3 reconstructs to a
    # zero-norm code word (cnorm == 0) as well as having qnorm == 0
    book = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])]
    for nprobe in (1, 2):
        rows = ivfpq_topk(
            df,
            [(0, [1.0, 0.0, 0.0, 1.0]), (1, [0.0, 1.0, 1.0, 0.0])],
            [book, book],
            k=3,
            nprobe=nprobe,
        ).collect()
        assert rows, f"nprobe={nprobe}: real pairs must still emit"
        assert all(
            r["query_id"] != 3 and r["neighbor_id"] != 3 for r in rows
        ), f"nprobe={nprobe}: zero-norm pairs must emit no row"
        assert all(
            r["adc_sim"] is not None and not math.isnan(r["adc_sim"])
            for r in rows
        )


def test_ivfpq_validation(spark):
    import numpy as np
    import pytest

    from tmdb_index_spark.operators.similarity import (
        fit_pq_array,
        ivfpq_topk,
    )

    X = np.ones((4, 4))
    with pytest.raises(ValueError, match="subspaces"):
        fit_pq_array(X, m=3)
    with pytest.raises(ValueError, match="ks"):
        fit_pq_array(X, m=2, ks=0)
    df = _pq_emb(spark)
    books = fit_pq_array(np.ones((4, 4)), m=2, ks=2)
    with pytest.raises(ValueError, match="k must be"):
        ivfpq_topk(df, [(0, [0.0] * 4)], books, k=0)
    with pytest.raises(ValueError, match="equally sized"):
        ivfpq_topk(df, [(0, [0.0] * 4)], [books[0], books[1][:1]], k=1)


def test_ann_recall_eval_matches_python_mirror(spark):
    # Recompute recall@3 in plain Python from the same operators'
    # collected outputs: the catalog query's aggregation must match
    # exactly, and recall must sit in [0, 1] with the exact set as
    # denominator semantics (queries with no approx rows still count).
    from tmdb_index_spark.operators.similarity import (
        brute_force_topk,
        ivf_index_topk,
        lsh_index_topk,
    )
    from tmdb_index_spark.queries import QUERIES, _t

    sf = "/root/testdata/sf0.001"
    got = {
        r["index_name"]: r
        for r in QUERIES["ann_recall_eval"](spark, sf).collect()
    }
    emb = _t(spark, sf, "embeddings")
    sampled = emb.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 100_000)
    )
    nq = sampled.count()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, sampled, k=3).collect()
    }
    for name, fn in (
        ("ivf_tuned", ivf_index_topk),
        ("lsh_tuned", lsh_index_topk),
    ):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in fn(emb, k=3).collect()
            if r["query_id"] % 50 == 0 and r["query_id"] < 100_000
        }
        hits = len(approx & exact)
        row = got[name]
        assert row["n_queries"] == nq
        assert row["n_hits"] == hits
        assert row["recall_at_3"] == round(hits / (3.0 * nq), 6)
        assert 0.0 <= row["recall_at_3"] <= 1.0


# ---------------------------------------------------------------------------
# MMR re-ranking
# ---------------------------------------------------------------------------


def _mmr_pool(spark):
    rows = [
        (1, 0.9, [1.0, 0.0, 0.0, 0.0]),   # most relevant
        (2, 0.89, [1.0, 0.0, 0.0, 0.0]),  # near-duplicate of 1 (sim 1.0)
        (3, 0.5, [0.0, 1.0, 0.0, 0.0]),   # diverse (sim 0.0 to both)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, rel double, embedding array<float>"
    )


def test_mmr_diversifies_hand_computed(spark):
    from tmdb_index_spark.operators.similarity import mmr_rerank

    out = sorted(
        mmr_rerank(_mmr_pool(spark), k=3, lam=0.7).collect(),
        key=lambda r: r["rank"],
    )
    # Plain relevance order is 1, 2, 3 — MMR must demote the duplicate
    # (id 2, sim 1.0 to the first pick) below the diverse id 3.
    assert [r["vec_id"] for r in out] == [1, 3, 2]
    assert out[0]["mmr_score"] == round(0.7 * 0.9, 4)
    assert out[1]["mmr_score"] == round(0.7 * 0.5 - 0.3 * 0.0, 4)
    assert out[2]["mmr_score"] == round(0.7 * 0.89 - 0.3 * 1.0, 4)
    assert [r["relevance"] for r in out] == [0.9, 0.5, 0.89]


def test_mmr_pool_smaller_than_k_and_validation(spark):
    import pytest

    from tmdb_index_spark.operators.similarity import mmr_rerank

    pool = _mmr_pool(spark).filter(F.col("vec_id") <= 2)
    out = mmr_rerank(pool, k=5, lam=0.7).collect()
    assert sorted(r["rank"] for r in out) == [1, 2]
    with pytest.raises(ValueError, match="k must be"):
        mmr_rerank(pool, k=0)
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(pool, k=1, lam=0.0)


def test_mmr_zero_norm_vector_and_duplicate_ids(spark):
    import pytest

    from tmdb_index_spark.operators.similarity import mmr_rerank

    # A zero-norm vector makes cosine() NULL for its pairs; MMR must
    # treat that as sim 0.0 (no redundancy), not crash on float(None).
    pool = spark.createDataFrame(
        [
            (1, 0.9, [1.0, 0.0, 0.0, 0.0]),
            (2, 0.8, [0.0, 0.0, 0.0, 0.0]),  # zero norm
            (3, 0.5, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, rel double, embedding array<float>",
    )
    out = sorted(
        mmr_rerank(pool, k=3, lam=0.7).collect(), key=lambda r: r["rank"]
    )
    # sim(·, zero) = 0 everywhere → pure relevance order survives
    assert [r["vec_id"] for r in out] == [1, 2, 3]
    assert out[1]["mmr_score"] == round(0.7 * 0.8, 4)

    dup = pool.union(pool.filter(F.col("vec_id") == 1))
    with pytest.raises(ValueError, match="unique"):
        mmr_rerank(dup, k=2)


# ------------------------------------------------- semantic regimes


def test_semantic_dedup_two_level_regime_matches_flat(spark):
    """Above two_level_cells the default routes assignment through the
    hierarchical quantizer; with an exhaustive coarse probe the fine
    centroids (same sample, same seed) and the assignment equal the
    flat path, so the flag sets must be identical."""
    from tmdb_index_spark.operators.similarity import (
        fit_centroids,
        semantic_dedup,
        semantic_dedup_with_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        (r["vec_id"], r["cell"], r["keep"])
        for r in semantic_dedup(
            emb, 0.4, cells=20, two_level_cells=8, probe_coarse=10_000
        ).collect()
    }
    flat = {
        (r["vec_id"], r["cell"], r["keep"])
        for r in semantic_dedup_with_centroids(
            emb, fit_centroids(emb, 20), 0.4, assign_impl="pandas"
        ).collect()
    }
    assert got == flat and len(got) == emb.count()


def test_semantic_dedup_lsh_regime_past_fit_cap(spark):
    """cells > max_sample must NOT silently clamp the k-means fit
    (round-10 verdict): the default switches to sign-bit LSH cells
    with a loud warning, and the election contract still holds against
    an independent numpy recomputation of orthant cells + first-
    occurrence election."""
    import numpy as np
    import pytest

    from tmdb_index_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.warns(UserWarning, match="sign-bit LSH"):
        out = semantic_dedup(emb, 0.4, cells=200, max_sample=100)
    got = {(r["vec_id"], r["cell"], r["keep"]) for r in out.collect()}
    assert len(got) == emb.count()

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([list(r["embedding"]) for r in rows], dtype="float64")
    bits = 8  # ceil(log2(200))
    cells = (np.float64(X[:, :bits]) >= 0).astype("int64") @ (
        1 << np.arange(bits, dtype="int64")
    )
    nrm = np.sqrt((X * X).sum(axis=1))
    S = np.round((X @ X.T) / np.outer(nrm, nrm), 4)
    expect = set()
    for j in range(len(ids)):
        drop = any(
            ids[i] < ids[j] and cells[i] == cells[j] and S[i, j] >= 0.4
            for i in range(len(ids))
        )
        expect.add((int(ids[j]), int(cells[j]), not drop))
    assert got == expect


def test_fit_centroids_raises_past_sample_cap(spark):
    """The silent k=min(k, sample) clamp is gone: asking the sampled
    fit for more centroids than sample rows is a declared error, not a
    hidden occupancy cliff."""
    import pytest

    from tmdb_index_spark.operators.similarity import (
        fit_centroids,
        fit_two_level_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="max_sample"):
        fit_centroids(emb, 101, max_sample=100)
    with pytest.raises(ValueError, match="max_sample"):
        fit_two_level_centroids(emb, 101, 10, max_sample=100)


def test_ivf2_probe_assign_rank1_is_assignment_and_recall_improves(spark):
    """Round-13 fine-level multi-probe: probe rank 1 must equal the
    two-level assignment cell for every vector (the probe set always
    contains the home cell), each query carries nprobe distinct probed
    cells, and nprobe=2 recall vs brute-force top-1 is at least the
    single-probe path's on the same fitted index."""
    from tmdb_index_spark.operators.similarity import (
        brute_force_topk,
        fit_two_level_centroids,
        ivf2_index_topk,
        ivf2_probe_assign,
        two_level_ivf_assign,
    )

    emb = _rand_emb(spark, n=150)
    cells, coarse = 28, 5  # ~150^(2/3), sqrt
    cc, fine, f2c = fit_two_level_centroids(emb, cells, coarse)
    assigned = {
        r["vec_id"]: r["cell"]
        for r in two_level_ivf_assign(
            emb, cc, fine, f2c, probe_coarse=2
        ).collect()
    }
    probes = ivf2_probe_assign(
        emb, cc, fine, f2c, probe_coarse=2, nprobe=2
    ).collect()
    by_q: dict = {}
    for r in probes:
        by_q.setdefault(r["vec_id"], {})[r["probe_rank"]] = r["cell"]
    assert set(by_q) == set(assigned)
    for q, ranks in by_q.items():
        assert ranks[1] == assigned[q], (q, ranks, assigned[q])
        assert len(set(ranks.values())) == len(ranks)  # distinct cells

    brute = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(emb, emb, k=1).collect()
    }

    def recall(nprobe):
        got = {
            r["query_id"]: r["neighbor_id"]
            for r in ivf2_index_topk(
                emb, k=1, n_estimate=150, probe_coarse=2, nprobe=nprobe
            ).collect()
            if r["rank"] == 1
        }
        return sum(got.get(q) == n for q, n in brute.items()) / len(brute)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1, (r1, r2)


def test_index_topk_queries_subset_matches_full_run(spark):
    """queries= (round-14 eval-harness lever) must return EXACTLY the
    full self-query run's rows restricted to the sampled query ids —
    per-query independence is the equivalence the optimization rests
    on, for all three multi-probe families."""
    import random

    from tmdb_index_spark.operators.similarity import (
        ivf2_index_topk,
        ivf_index_topk,
        ivfpq_index_topk,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    sampled = emb.filter(F.col("vec_id") % 5 == 0)
    legs = [
        lambda q: ivf_index_topk(emb, k=3, nprobe=2, queries=q),
        lambda q: ivf2_index_topk(
            emb, k=3, probe_coarse=2, nprobe=2, queries=q
        ),
        lambda q: ivfpq_index_topk(emb, k=3, m=4, ks=8, nprobe=2, queries=q),
    ]
    for leg in legs:
        full = {
            tuple(r)
            for r in leg(None)
            .filter(F.col("query_id") % 5 == 0)
            .collect()
        }
        sub = {tuple(r) for r in leg(sampled).collect()}
        assert sub == full and len(sub) > 0


def test_index_topk_queries_requires_multiprobe(spark):
    import pytest

    from tmdb_index_spark.operators.similarity import ivf_index_topk

    emb = _emb(spark)
    with pytest.raises(ValueError, match="multi-probe"):
        ivf_index_topk(emb, k=2, nprobe=1, queries=emb)
