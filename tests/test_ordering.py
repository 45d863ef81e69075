"""Tests for deterministic global ordering (operators/ordering.py):
positions without a single-partition global window."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark.sql import Window

from tmdb_index_spark.operators.ordering import (
    deterministic_shuffle,
    global_row_positions,
    grouped_ntile,
    grouped_prefix_sum,
    grouped_rank,
)


def test_positions_are_exact_global_ranks(spark):
    # scattered keys across value ranges, including negatives and a tie
    rows_ = [(i, k) for i, k in enumerate([50, -3, 17, 1000, 0, 17, 999, -100])]
    df = spark.createDataFrame(rows_, "id long, k long")
    got = global_row_positions(df, "k", tiebreak=["id"], buckets=4).collect()
    by_pos = {r["pos"]: (r["k"], r["id"]) for r in got}
    # positions are a permutation of 0..N-1
    assert sorted(by_pos) == list(range(len(rows_)))
    # and enumerate rows in exact (k, id) order
    expect = sorted(((k, i) for i, k in rows_))
    assert [by_pos[p] for p in range(len(rows_))] == expect


def test_positions_skewed_keys_still_correct(spark):
    # 90% of rows share one key: one bucket dominates, ranks still exact
    rows_ = [(i, 7 if i < 45 else i) for i in range(50)]
    df = spark.createDataFrame(rows_, "id long, k long")
    got = global_row_positions(df, "k", tiebreak=["id"], buckets=8).collect()
    by_pos = {r["pos"]: (r["k"], r["id"]) for r in got}
    assert [by_pos[p] for p in range(50)] == sorted(((k, i) for i, k in rows_))


def test_positions_independent_of_bucket_count(spark):
    df = spark.createDataFrame([(i, i * 37 % 101) for i in range(60)], "id long, k long")
    a = {r["id"]: r["pos"] for r in global_row_positions(df, "k", ["id"], buckets=2).collect()}
    b = {r["id"]: r["pos"] for r in global_row_positions(df, "k", ["id"], buckets=16).collect()}
    assert a == b


def test_shuffle_deterministic_and_seed_sensitive(spark):
    df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    a = {r["doc_id"]: r["pos"] for r in deterministic_shuffle(df, "doc_id", seed=1).collect()}
    b = {r["doc_id"]: r["pos"] for r in deterministic_shuffle(df, "doc_id", seed=1).collect()}
    c = {r["doc_id"]: r["pos"] for r in deterministic_shuffle(df, "doc_id", seed=2).collect()}
    assert a == b                      # same seed -> identical order
    assert sorted(a.values()) == list(range(40))
    assert a != c                      # different seed -> different order
    assert a != {i: i for i in range(40)}  # and it actually shuffles


def test_data_path_window_is_bucket_partitioned(spark):
    # SinglePartition exchanges exist only in the bounded-size subtrees
    # (the 1-row min/max aggregate and the |buckets|-row offsets
    # window); the DATA path — the row_number window every row flows
    # through — must be hash-partitioned on the bucket, never global.
    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = (
        deterministic_shuffle(df, "doc_id", seed=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(__bkt__" in plan
    # the full-row window sorts by (__bkt__-partition, key) — a GLOBAL
    # rangepartitioning sort of the data would mean the funnel is back
    assert "rangepartitioning" not in plan.lower()


# ---- grouped_rank / grouped_ntile / grouped_prefix_sum ----------------


def _mixed_df(spark):
    # 3 groups of uneven size, keys with ties, negatives, decimals
    rows_ = []
    vals = [50.0, -3.5, 17.0, 1000.0, 0.0, 17.0, 999.0, -100.25, 42.0]
    for g in ("a", "b", "c"):
        for i, v in enumerate(vals[: {"a": 9, "b": 7, "c": 4}[g]]):
            rows_.append((g, i, v))
    return spark.createDataFrame(rows_, "g string, id long, v double")


def test_grouped_rank_matches_naive_window(spark):
    df = _mixed_df(spark)
    naive = df.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
        ).cast("long"),
    )
    got = grouped_rank(df, "v", tiebreak=["id"], partition_cols=["g"], buckets=3)
    assert sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, naive.collect()), key=lambda t: (t[0], t[1])
    )


def test_grouped_rank_descending_global(spark):
    df = _mixed_df(spark).filter(F.col("g") == "a")
    naive = df.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("v"), F.asc("id"))).cast("long"),
    )
    got = grouped_rank(df, "v", tiebreak=["id"], ascending=False, buckets=4)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_grouped_ntile_matches_naive_all_tile_counts(spark):
    df = _mixed_df(spark)
    for k in (1, 2, 5, 13):  # 13 > smallest group size exercises q=0
        naive = df.withColumn(
            "tile",
            F.ntile(k).over(
                Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
            ).cast("long"),
        )
        got = grouped_ntile(
            df, k, "v", tiebreak=["id"], partition_cols=["g"], buckets=3
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, naive.collect())
        ), f"ntile({k}) mismatch"


def test_grouped_ntile_global_descending(spark):
    df = _mixed_df(spark)
    naive = df.withColumn(
        "tile",
        F.ntile(4).over(Window.orderBy(F.desc("v"), F.asc("id"))).cast("long"),
    )
    got = grouped_ntile(df, 4, "v", tiebreak=["id"], ascending=False, buckets=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_grouped_prefix_sum_matches_naive(spark):
    # unique keys per group (the documented contract)
    rows_ = [
        (g, float(k), k * 2, k * k)
        for g in ("x", "y")
        for k in ([1, 3, 7, 8, 20, -4] if g == "x" else [5, 6, 100])
    ]
    df = spark.createDataFrame(rows_, "g string, k double, a long, b long")
    w = (
        Window.partitionBy("g")
        .orderBy(F.asc("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = df.withColumn("ca", F.sum("a").over(w)).withColumn(
        "cb", F.sum("b").over(w)
    )
    got = grouped_prefix_sum(
        df, "k", {"ca": "a", "cb": "b"}, partition_cols=["g"], buckets=2
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_grouped_rank_no_data_scale_funnel(spark):
    # The data-path window must partition by (group, bucket); the only
    # permissible SinglePartition subtrees are the bounded min/max and
    # (group, bucket)-offset frames.
    df = _mixed_df(spark)
    plan = (
        grouped_rank(df, "v", tiebreak=["id"], partition_cols=["g"], buckets=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(g" in plan and "__bkt__" in plan
    assert "rangepartitioning" not in plan.lower()


def test_grouped_rank_null_key_fails_loudly(spark):
    # A NULL sort key must RAISE (contract), not silently vanish at
    # the inner bucket join the way a NULL __bkt__ would (r7 ADVICE).
    import pytest

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0)], "id long, v double"
    )
    with pytest.raises(Exception, match="NULL sort key"):
        grouped_rank(df, "v", tiebreak=["id"], buckets=2).collect()


def test_grouped_gini_matches_per_row_rank_spelling(spark):
    """The fused per-bucket form (window feeding a same-keys GROUP BY,
    offsets applied on the bounded frame: Σ(2i−1)x = Σ_b[w_b +
    2·off_b·S_b]) must be BIT-identical to the per-row ROW_NUMBER
    spelling for decimal inputs — decimal addition is exact and
    associative, so regrouping by bucket cannot change the total."""
    import random
    from decimal import Decimal

    from tmdb_index_spark.operators.ordering import grouped_gini

    random.seed(11)
    rows_ = [
        (i, random.randint(0, 4), Decimal(f"{random.random() * 1000:.2f}"))
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows_, "id long, g int, x decimal(18,2)"
    ).repartition(8)
    mine = {
        r["g"]: (r["n"], r["sum_w"], r["gini"])
        for r in grouped_gini(
            df, "x", tiebreak=["id"], partition_cols=["g"], buckets=4
        ).collect()
    }
    rk = df.withColumn(
        "i",
        F.row_number().over(
            Window.partitionBy("g").orderBy(
                F.col("x").asc(), F.col("id").asc()
            )
        ),
    )
    agg = rk.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum((2 * F.col("i") - 1).cast("decimal(18,0)") * F.col("x"))
        .cast("double")
        .alias("sw"),
    )
    naive = {
        r["g"]: (
            r["n"],
            r["sx"],
            (r["sw"] - (r["n"] + 1) * r["sx"]) / (r["n"] * r["sx"]),
        )
        for r in agg.collect()
    }
    assert set(mine) == set(naive)
    for k in mine:
        assert mine[k][0] == naive[k][0]
        assert mine[k][1] == naive[k][1]
        assert mine[k][2] == naive[k][2]  # exact, not approx


def test_grouped_gini_global_and_null_guard(spark):
    import pytest

    from tmdb_index_spark.operators.ordering import grouped_gini

    from decimal import Decimal

    df = spark.createDataFrame(
        [(i, Decimal(v)) for i, v in enumerate(["1.00", "2.00", "7.00"])],
        "id long, x decimal(18,2)",
    )
    got = grouped_gini(df, "x", tiebreak=["id"], buckets=2).collect()
    # hand-computed: n=3, Σx=10, Σ(2i−1)x = 1·1 + 3·2 + 5·7 = 42
    # G = (42 − 4·10) / (3·10)
    assert got[0]["n"] == 3 and got[0]["sum_w"] == 10.0
    assert abs(got[0]["gini"] - (42 - 40) / 30) < 1e-15

    bad = spark.createDataFrame([(1, None)], "id long, x decimal(18,2)")
    with pytest.raises(Exception, match="NULL sort key"):
        grouped_gini(bad, "x", tiebreak=["id"], buckets=2).collect()


def test_grouped_gini_plan_no_data_join_and_bucket_window(spark):
    """Plan shape: the cuts join is broadcast, the only ROW_NUMBER
    window partitions by (group, __bkt__) (balanced tag), and there
    is NO data-sized offsets join-back — the rank window feeds the
    per-bucket aggregate in the same exchange."""
    import random
    from decimal import Decimal

    from tmdb_index_spark.operators.ordering import grouped_gini

    random.seed(5)
    rows_ = [
        (i, i % 3, Decimal(f"{random.random() * 100:.2f}"))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows_, "id long, g int, x decimal(18,2)")
    plan = (
        grouped_gini(df, "x", tiebreak=["id"], partition_cols=["g"], buckets=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert plan.count("SortMergeJoin") == 0
    assert "__bkt__" in plan

    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    from window_lint import audit_window_funnels

    g = grouped_gini(
        df, "x", tiebreak=["id"], partition_cols=["g"], buckets=4
    )
    assert audit_window_funnels(g) == []
