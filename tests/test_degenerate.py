"""Degenerate-data guards (round-7 review findings): the session runs
ANSI mode, where a zeroed denominator THROWS instead of returning NULL
— every statistics query must return a deterministic NULL/0 sentinel on
degenerate inputs, matching its DuckDB oracle's NULLIF guard."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tmdb_index_spark import queries as Q


def _mini_events(spark, tmp_path, rows):
    """Write a tiny events.parquet shaped like the fixtures."""
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_value_rank_dist_single_row_group_returns_zero(spark, tmp_path):
    # one event_type with exactly ONE row: PERCENT_RANK is defined as
    # 0; the unguarded (rank-1)/(n-1) would ANSI-throw on 0/0.
    sf = _mini_events(
        spark,
        tmp_path,
        [
            (0, datetime(2024, 1, 1), 1, "solo", 5.0, "{}"),
            (1, datetime(2024, 1, 2), 1, "multi", 1.0, "{}"),
            (2, datetime(2024, 1, 3), 2, "multi", 2.0, "{}"),
        ],
    )
    rows = {r["event_type"]: r for r in Q.value_rank_dist(spark, sf).collect()}
    # single row: pr = 0 (not top decile), cd = 1.0 (not bottom decile)
    # — exactly PERCENT_RANK/CUME_DIST semantics, and no ANSI crash
    assert rows["solo"]["n_top_decile"] == 0
    assert rows["solo"]["n_bottom_decile"] == 0
    assert rows["solo"]["top_entry_value"] is None


def test_mannwhitney_all_weekday_returns_null_z(spark, tmp_path):
    # every purchase on a weekday (epoch dow 4 = 1970-01-01+3) → the
    # weekend group is empty → variance 0 → z must be NULL, not a
    # DIVIDE_BY_ZERO crash.
    sf = _mini_events(
        spark,
        tmp_path,
        [
            (0, datetime(1970, 1, 1), 1, "purchase", 10.0, "{}"),
            (1, datetime(1970, 1, 1), 2, "purchase", 20.0, "{}"),
        ],
    )
    row = Q.purchase_mannwhitney(spark, sf).collect()[0]
    assert row["n_weekend"] == 0
    assert row["z_score"] is None


def test_ks_test_all_weekday_returns_null_threshold(spark, tmp_path):
    sf = _mini_events(
        spark,
        tmp_path,
        [
            (0, datetime(1970, 1, 1), 1, "purchase", 10.0, "{}"),
            (1, datetime(1970, 1, 1), 2, "purchase", 20.0, "{}"),
        ],
    )
    row = Q.purchase_value_ks_test(spark, sf).collect()[0]
    assert row["n_weekend"] == 0
    assert row["critical_05"] is None
    assert row["distributions_differ"] is None


def test_two_level_assign_skips_empty_coarse_cells(spark):
    # a coarse cell with NO fine members sits nearest to the query
    # vector; probing must skip it and assign a REAL fine cell (the
    # sentinel would otherwise leak into a bogus mega-cell while the
    # SQL oracle's membership join dropped the vector).
    from tmdb_index_spark.operators.similarity import two_level_ivf_assign

    coarse = [(0, [0.0, 0.0]), (1, [10.0, 10.0])]
    fine = [(0, [10.0, 9.0]), (1, [9.0, 10.0])]
    f2c = {0: 1, 1: 1}  # coarse cell 0 is EMPTY
    emb = spark.createDataFrame(
        [(7, [0.1, 0.2])], "vec_id long, embedding array<float>"
    )
    got = two_level_ivf_assign(
        emb, coarse, fine, f2c, probe_coarse=1
    ).collect()
    assert got[0]["cell"] in (0, 1)  # a real fine cell, not the sentinel


def test_powerlaw_degenerate_counts_null_alpha(spark, tmp_path):
    # every user has the same event count → Σ ln(x/xmin) = 0 → the
    # NULLIF guard (ADVICE r6) must yield NULL alpha, not a crash.
    sf = _mini_events(
        spark,
        tmp_path,
        [
            (0, datetime(2024, 1, 1), 1, "click", 1.0, "{}"),
            (1, datetime(2024, 1, 2), 2, "click", 1.0, "{}"),
        ],
    )
    row = Q.activity_powerlaw_fit(spark, sf).collect()[0]
    assert row["alpha_mle"] is None


def test_robust_trend_excludes_null_order_dates(spark, tmp_path):
    # a NULL o_orderdate must drop out BEFORE pair formation (the
    # oracle's a.day < b.day join never matches NULL) — the driver-side
    # sort would otherwise TypeError on None day indexes.
    from datetime import datetime

    spark.createDataFrame(
        [
            (1, 10, "O", 100.0, datetime(2024, 1, 1), "P1"),
            (2, 11, "O", 200.0, None, "P1"),
            (3, 12, "O", 300.0, datetime(2024, 1, 3), "P1"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    row = Q.robust_trend_daily(spark, str(tmp_path)).collect()[0]
    assert row["n_pairs"] == 1  # only the two dated days pair up
    assert row["theil_sen_slope"] == 100.0  # (300-100)/2 days


def test_source_kl_zero_token_source_contributes_zero(spark, tmp_path):
    # a source whose texts tokenize to nothing: KL convention
    # 0*ln(0) = 0 on both engines (DuckDB ln(0) would hard-error).
    spark.createDataFrame(
        [
            (1, "hello world", "en", "web", 11),
            (2, "   ", "en", "emptysrc", 3),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["source"]: r
        for r in Q.source_token_kl(spark, str(tmp_path)).collect()
    }
    assert rows["emptysrc"]["kl_contribution"] == 0.0
    assert rows["emptysrc"]["n_tokens"] == 0


def test_anova_single_priority_null_f(spark, tmp_path):
    # a single priority group: k-1 = 0 and ssb = 0 → f_stat must be
    # the NULL sentinel (ANSI would DIVIDE_BY_ZERO), eta² = 0/ssw = 0.
    spark.createDataFrame(
        [
            (1, 10, "O", 100.0, datetime(2024, 1, 1), "1-URGENT"),
            (2, 11, "O", 200.0, datetime(2024, 1, 2), "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    row = Q.order_anova_by_priority(spark, str(tmp_path)).collect()[0]
    assert row["k_groups"] == 1
    assert row["f_stat"] is None
    assert row["eta_squared"] == 0.0


def test_anova_zero_within_variance_null_f(spark, tmp_path):
    # two groups, each a single row: N-k = 0 AND ssw = 0 → both inner
    # NULLIFs fire; f_stat is NULL, not a crash or Inf.
    spark.createDataFrame(
        [
            (1, 10, "O", 100.0, datetime(2024, 1, 1), "1-URGENT"),
            (2, 11, "O", 200.0, datetime(2024, 1, 2), "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    row = Q.order_anova_by_priority(spark, str(tmp_path)).collect()[0]
    assert row["f_stat"] is None


def test_fertility_zero_token_lang_null_ratio(spark, tmp_path):
    # a language whose documents tokenize to zero tokens
    # (whitespace-only): bytes_per_token is NULL, tokens_per_100_chars
    # is 0 — not an ANSI DIVIDE_BY_ZERO.
    spark.createDataFrame(
        [
            (1, "hello world", "en", "web", 11),
            (2, "   ", "zz", "web", 3),
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["lang"]: r
        for r in Q.lang_token_fertility(spark, str(tmp_path)).collect()
    }
    assert rows["zz"]["n_tokens"] == 0
    assert rows["zz"]["bytes_per_token"] is None
    assert rows["zz"]["tokens_per_100_chars"] == 0.0


def test_zipf_single_token_vocab_null_exponent(spark, tmp_path):
    # vocabulary of exactly one distinct token: every ln(rank) = 0 →
    # the OLS denominator n·sxx − sx² = 0 → NULL exponent, no crash.
    spark.createDataFrame(
        [(1, "hello hello hello", "en", "web", 17)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    row = Q.token_zipf_fit(spark, str(tmp_path)).collect()[0]
    assert row["vocab_size"] == 1
    assert row["zipf_exponent"] is None


def test_value_equidepth_histogram_hand_computed(spark, tmp_path):
    # 10 values 1..10 in one type, NTILE(8): q=1, r=2 -> buckets 1 and
    # 2 hold two rows, 3..8 one each; boundaries move with the data
    from datetime import datetime as dt

    rows_ = [
        (i, dt(2024, 1, 1), 1, "t", float(i + 1), "{}") for i in range(10)
    ]
    # NULL value must be ignored (no NULL bucket)
    rows_.append((99, dt(2024, 1, 2), 1, "t", None, "{}"))
    sf = _mini_events(spark, tmp_path, rows_)
    got = {
        r["bucket"]: r.asDict()
        for r in Q.value_equidepth_histogram(spark, sf).collect()
    }
    assert [got[b]["n_rows"] for b in range(1, 9)] == [2, 2, 1, 1, 1, 1, 1, 1]
    assert got[1]["lo"] == 1.0 and got[1]["hi"] == 2.0
    assert got[2]["lo"] == 3.0 and got[2]["hi"] == 4.0
    assert got[8]["lo"] == 10.0 and got[8]["hi"] == 10.0
    assert sum(v["n_rows"] for v in got.values()) == 10


# ---------------------------------------------------------------------------
# revenue_bootstrap_ci (Poisson bootstrap)
# ---------------------------------------------------------------------------


def test_bootstrap_ci_matches_python_mirror(spark, tmp_path):
    # Recompute the full hash -> Poisson-weight -> replicate-mean ->
    # nearest-rank pipeline in plain Python (hashlib md5) and pin the
    # catalog query's output exactly — the weights are deterministic,
    # so this is a value test, not a statistical one.
    import hashlib

    from tmdb_index_spark.queries import (
        _BOOT_B,
        _POIS_CDF,
        revenue_bootstrap_ci,
    )

    rows_ = [
        (ok, ln, float(px))
        for ok, ln, px in [
            (1, 1, 10.0), (1, 2, 20.5), (2, 1, 31.25), (3, 1, 7.75),
            (3, 2, 99.0), (4, 1, 55.5), (5, 1, 12.0), (6, 1, 42.42),
        ]
    ]
    df = spark.createDataFrame(
        rows_, "l_orderkey long, l_linenumber int, l_extendedprice double"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    [r] = revenue_bootstrap_ci(spark, str(tmp_path)).collect()

    from tmdb_index_spark.operators.dedup_text import (
        MINHASH_P,
        _minhash_a,
        _minhash_b,
    )

    def u(ok, ln, b):
        # ONE md5 base hash per row + the minhash universal-hash mix
        # per replicate (round 10: the per-replicate-md5 form was the
        # 100x-stress breach)
        payload = f"{ok}:{ln}".encode()
        h = int(hashlib.md5(payload).hexdigest()[:15], 16)
        return ((h % MINHASH_P) * _minhash_a(b) + _minhash_b(b)) % MINHASH_P / float(MINHASH_P)

    def w(ok, ln, b):
        uu = u(ok, ln, b)
        for rr, c in enumerate(_POIS_CDF):
            if uu < c:
                return rr
        return len(_POIS_CDF)

    n = len(rows_)
    point = round(sum(px for _, _, px in rows_) / n, 6)
    means = []
    for b in range(_BOOT_B):
        ws = [w(ok, ln, b) for ok, ln, _ in rows_]
        sw = sum(ws)
        swx = sum(wi * px for wi, (_, _, px) in zip(ws, rows_))
        means.append(swx / sw if sw else None)
    assert all(m is not None for m in means)  # fixture sanity
    ms = sorted(means)
    assert r["n_rows"] == n
    assert r["point_mean"] == point
    assert r["boot_lo"] == round(ms[1], 6)
    assert r["boot_hi"] == round(ms[_BOOT_B - 3], 6)
    assert r["boot_lo"] <= r["point_mean"] <= r["boot_hi"]


def test_conformal_interval_contract(spark):
    # Split-conformal guarantees >= 1 - alpha coverage in expectation;
    # on the fixed testdata the empirical value is deterministic, so
    # assert the contract loosely (coverage can sit slightly under 0.9
    # by finite-sample noise) plus the structural invariants.
    from tmdb_index_spark.queries import conformal_revenue_interval

    [r] = conformal_revenue_interval(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert r["n_train_days"] > 0 and r["n_cal_days"] > 0
    assert r["n_test_days"] > 0
    assert r["q_hat"] > 0.0
    assert 0.8 <= r["coverage"] <= 1.0


def test_psm_att_hand_computed(spark, tmp_path):
    # treated: u1 (2 clicks, y=100), u2 (0 clicks, y=50)
    # control: u3 (2 clicks, y=80), u4 (3 clicks, y=40), u5 (0 clicks, y=0)
    # matches: score 2 -> control cell 2 (mean 80); score 0 -> cell 0
    # (mean 0) => mean_t = 75, matched mean = 40, ATT = 35.
    from tmdb_index_spark.queries import signup_psm_att

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0

    def ev(uid, etype, value=0.0):
        nonlocal eid
        rows.append((eid, t0, uid, etype, float(value), "{}"))
        eid += 1

    ev(1, "signup"); ev(1, "click"); ev(1, "click"); ev(1, "purchase", 100)
    ev(2, "signup"); ev(2, "purchase", 50)
    ev(3, "click"); ev(3, "click"); ev(3, "purchase", 80)
    ev(4, "click"); ev(4, "click"); ev(4, "click"); ev(4, "purchase", 40)
    ev(5, "view")
    sf = _mini_events(spark, tmp_path, rows)
    [r] = Q.signup_psm_att(spark, sf).collect()
    assert r["n_treated"] == 2 and r["n_controls"] == 3
    assert r["mean_treated_outcome"] == 75.0
    assert r["mean_matched_outcome"] == 40.0
    assert r["att"] == 35.0


def test_psm_att_no_treated_null(spark, tmp_path):
    # no signups at all: NULLIF(n_treated, 0) must yield NULL means
    # and att, never an ANSI divide error.
    from tmdb_index_spark.queries import signup_psm_att

    t0 = datetime(2024, 1, 1)
    sf = _mini_events(
        spark, tmp_path,
        [(0, t0, 1, "click", 0.0, "{}"), (1, t0, 2, "purchase", 9.0, "{}")],
    )
    [r] = Q.signup_psm_att(spark, sf).collect()
    assert r["n_treated"] == 0 and r["n_controls"] == 2
    assert r["att"] is None


def test_stationary_dist_hand_computed(spark, tmp_path):
    # user 1 alternates view->click->view->click->view (a pure 2-cycle:
    # P(view->click)=P(click->view)=1); user 2 emits one dangling
    # 'error' event (no outgoing transitions). Uniform start = 1e9 DIV
    # 3 nanos each; the cycle preserves its mass exactly in integer
    # arithmetic while the dangling type's mass vanishes at step 1 —
    # so the fixed point is exactly 333333333 nanos for view and
    # click, and NO error row.
    from datetime import timedelta

    from tmdb_index_spark.queries import event_stationary_dist

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(minutes=i), 1, et, 0.0, "{}")
        for i, et in enumerate(["view", "click", "view", "click", "view"])
    ] + [(99, t0, 2, "error", 0.0, "{}")]
    sf = _mini_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: r for r in event_stationary_dist(spark, sf).collect()
    }
    assert set(got) == {"view", "click"}
    assert got["view"]["prob_nanos"] == 333333333
    assert got["click"]["prob_nanos"] == 333333333
    assert got["view"]["stationary_prob"] == 0.333333


def test_nation_fdr_bh_python_mirror(spark):
    # Re-derive the Benjamini-Hochberg step-up in plain Python from
    # the engine's own quantized p-values: ranks must be dense over
    # (p asc, name asc), and the significant set must be exactly
    # ranks <= k* = max{k : p_(k) <= k*alpha/m}.
    rows = Q.nation_balance_fdr(spark, "/root/testdata/sf0.001").collect()
    m = len(rows)
    assert m > 1
    ordered = sorted(rows, key=lambda r: (r["p_value"], r["n_name"]))
    assert [r["bh_rank"] for r in ordered] == list(range(1, m + 1))
    kstar = max(
        (r["bh_rank"] for r in ordered
         if r["p_value"] <= r["bh_rank"] * 0.05 / m),
        default=0,
    )
    for r in ordered:
        assert r["significant"] == (r["bh_rank"] <= kstar)
        assert 0.0 <= r["p_value"] <= 1.0


def test_trimmed_mean_hand_computed(spark, tmp_path):
    # 10 orders valued 1..9 plus a 1000 outlier, one priority:
    # k = 10 DIV 10 = 1 -> drop rank 1 (value 1) and rank 10 (1000);
    # trimmed mean = (2+..+9)/8 = 5.5 while the plain mean is 104.5.
    from tmdb_index_spark.queries import order_trimmed_mean

    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 1000.0]
    spark.createDataFrame(
        [
            (i, 1, "O", v, datetime(2024, 1, 1), "1-URGENT")
            for i, v in enumerate(vals)
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    [r] = order_trimmed_mean(spark, str(tmp_path)).collect()
    assert r["n_orders"] == 10 and r["n_trim_each"] == 1
    assert r["trimmed_mean"] == 5.5
    assert r["mean_all"] == 104.5


def test_removal_effects_hand_computed(spark, tmp_path):
    # journeys: u1 click->purchase, u2 view->purchase, u3 click->view
    # (drop), u4 view (drop). Exact integer chain: P(convert) =
    # 0.49999975 (499,999,750 nanos); removing click leaves only the
    # view path (conv 166,666,500 nanos -> effect ~0.666667); removing
    # view leaves only the click path (conv 250,000,000 -> effect
    # 0.5000005); absent channels (signup/error) have effect 0.
    from datetime import timedelta

    from tmdb_index_spark.queries import channel_removal_effects

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0

    def ev(uid, et):
        nonlocal eid
        rows.append((eid, t0 + timedelta(minutes=eid), uid, et, 0.0, "{}"))
        eid += 1

    ev(1, "click"); ev(1, "purchase")
    ev(2, "view"); ev(2, "purchase")
    ev(3, "click"); ev(3, "view")
    ev(4, "view")
    sf = _mini_events(spark, tmp_path, rows)
    got = {
        r["channel"]: r for r in channel_removal_effects(spark, sf).collect()
    }
    assert set(got) == {"click", "view", "signup", "error"}
    full = 499_999_750 / 1e9
    assert got["click"]["p_convert_full"] == round(full, 6)
    # 0.1666665 sits ON the 6-decimal boundary: engine ROUND is
    # HALF_UP -> 0.166667 (Python's half-even round would say .166666)
    assert got["click"]["p_convert_without"] == 0.166667
    assert got["click"]["removal_effect"] == round(
        1 - 166_666_500 / 499_999_750, 6
    )
    assert got["view"]["p_convert_without"] == round(250_000_000 / 1e9, 6)
    assert got["view"]["removal_effect"] == round(
        1 - 250_000_000 / 499_999_750, 6
    )
    assert got["signup"]["removal_effect"] == 0.0
    assert got["error"]["removal_effect"] == 0.0


def test_rolling_backtest_structure(spark):
    # Three expanding folds: train sets strictly grow, every fold has
    # test days on the fixture calendar, MAE >= |bias| always (triangle
    # inequality of the per-day errors).
    from tmdb_index_spark.queries import rolling_backtest_mae

    rows = sorted(
        Q.rolling_backtest_mae(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["fold"],
    )
    assert [r["fold"] for r in rows] == [1, 2, 3]
    trains = [r["n_train_days"] for r in rows]
    assert trains == sorted(trains) and trains[0] > 0
    assert trains[1] > trains[0] and trains[2] > trains[1]
    for r in rows:
        assert r["n_test_days"] > 0
        assert r["mae"] >= abs(r["mean_bias"]) - 1e-9


def test_rolling_backtest_matches_per_fold_spelling(spark):
    # Round 15: the per-fold model fits moved to exact driver
    # arithmetic over the calendar-bounded daily rollup (literal
    # predictions, one conditional aggregate). This pins BIT-equality
    # (doubles compared by bit pattern, not tolerance) against the
    # removed per-fold Spark spelling — the float-identity argument
    # (correctly-rounded DECIMAL→double on both sides, same IEEE
    # division, same literal preds) is checked, not assumed.
    import struct

    from tmdb_index_spark.queries._embed_dedup import (
        _BACKTEST_FOLDS,
        _dec,
        _t,
    )

    sf = "/root/testdata/sf0.001"

    def bits(x):
        return None if x is None else struct.pack(">d", x).hex()

    got = {
        r["fold"]: (
            r["test_start"],
            r["n_train_days"],
            r["n_test_days"],
            bits(r["mae"]),
            bits(r["mean_bias"]),
        )
        for r in Q.rolling_backtest_mae(spark, sf).collect()
    }

    li = _t(spark, sf, "lineitem")
    daily = (
        li.groupBy(F.date_trunc("day", F.col("l_shipdate")).alias("__day__"))
        .agg(F.sum(_dec("l_extendedprice")).alias("__rev__"))
        .select(
            "__day__",
            F.col("__rev__").cast("double").alias("__y__"),
            F.col("__rev__").alias("__ydec__"),
            (
                F.datediff(F.col("__day__"), F.lit("1995-01-02").cast("date"))
                % 7
            ).alias("__dow__"),
        )
    )
    exp = {}
    for i, (start, end) in enumerate(_BACKTEST_FOLDS, 1):
        train = daily.filter(F.col("__day__") < F.lit(start).cast("timestamp"))
        test = daily.filter(
            (F.col("__day__") >= F.lit(start).cast("timestamp"))
            & (F.col("__day__") < F.lit(end).cast("timestamp"))
        )
        model = train.groupBy("__dow__").agg(
            (F.sum("__ydec__").cast("double") / F.count(F.lit(1))).alias(
                "__pred__"
            )
        )
        err = F.col("__y__") - F.col("__pred__")
        row = (
            test.join(F.broadcast(model), "__dow__")
            .select(
                F.round(F.abs(err) * F.lit(1e6))
                .cast("bigint")
                .alias("__ae__"),
                F.round(err * F.lit(1e6)).cast("bigint").alias("__e__"),
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_test_days"),
                F.sum("__ae__").cast("bigint").alias("__sae__"),
                F.sum("__e__").cast("bigint").alias("__se__"),
            )
            .select(
                "n_test_days",
                F.round(
                    F.col("__sae__").cast("double")
                    / F.expr("CAST(NULLIF(n_test_days, 0) AS DOUBLE)")
                    / F.lit(1e6),
                    2,
                ).alias("mae"),
                F.round(
                    F.col("__se__").cast("double")
                    / F.expr("CAST(NULLIF(n_test_days, 0) AS DOUBLE)")
                    / F.lit(1e6),
                    2,
                ).alias("mean_bias"),
            )
            .collect()[0]
        )
        exp[i] = (
            start,
            train.count(),
            row["n_test_days"],
            bits(row["mae"]),
            bits(row["mean_bias"]),
        )
    assert got == exp


def test_rolling_backtest_empty_fold_keeps_row(spark, monkeypatch):
    # A fold whose test window lies beyond the ship-date calendar must
    # still emit its row (n_test_days = 0, NULL mae/bias) — the
    # round-15 literal fold spine + left join preserves the removed
    # per-fold-aggregate behavior, where an empty COUNT(*) still
    # produced a row.
    from tmdb_index_spark.queries import _embed_dedup as mod

    monkeypatch.setattr(
        mod,
        "_BACKTEST_FOLDS",
        (("1998-01-01", "1999-01-01"), ("2035-01-01", "2036-01-01")),
    )
    rows = {
        r["fold"]: r
        for r in Q.rolling_backtest_mae(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert rows[1]["n_test_days"] > 0 and rows[1]["mae"] is not None
    empty = rows[2]
    assert empty["n_test_days"] == 0
    assert empty["mae"] is None and empty["mean_bias"] is None
    assert empty["n_train_days"] > rows[1]["n_train_days"]


def test_rolling_backtest_overlapping_folds_raise(spark, monkeypatch):
    # The one conditional aggregate that scores every fold is valid
    # only for disjoint, ordered test windows: overlapping folds must
    # raise, also under python -O, and before any table is read.
    import pytest

    from tmdb_index_spark.queries import _embed_dedup as mod

    monkeypatch.setattr(
        mod,
        "_BACKTEST_FOLDS",
        (("1996-01-01", "1997-06-01"), ("1997-01-01", "1998-01-01")),
    )
    with pytest.raises(ValueError, match="disjoint"):
        Q.rolling_backtest_mae(spark, "no-such-sf-dir")
