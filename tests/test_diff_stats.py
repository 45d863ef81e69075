"""change_summary / compute_stats tests, mirroring reference
test_tmdb_index.py:95-148,652-795."""

from __future__ import annotations

from tests.conftest import rows
from tmdb_index_spark.operators.diff import change_summary
from tmdb_index_spark.operators.stats import compute_stats


def test_change_summary_noop(spark):
    df = spark.createDataFrame([(0, 1), (1, 2)], "id long, v long")
    assert change_summary(df, df) == (0, 0, 0)


def test_change_summary_added(spark):
    old = spark.createDataFrame([(0, 1)], "id long, v long")
    new = spark.createDataFrame([(0, 1), (1, 2)], "id long, v long")
    assert change_summary(old, new) == (1, 0, 0)


def test_change_summary_removed(spark):
    old = spark.createDataFrame([(0, 1), (1, 2)], "id long, v long")
    new = spark.createDataFrame([(0, 1)], "id long, v long")
    assert change_summary(old, new) == (0, 1, 0)


def test_change_summary_updated(spark):
    old = spark.createDataFrame([(0, 1), (1, 2)], "id long, v long")
    new = spark.createDataFrame([(0, 1), (1, 99)], "id long, v long")
    assert change_summary(old, new) == (0, 0, 1)


def test_change_summary_added_and_updated(spark):
    old = spark.createDataFrame([(0, False), (1, False)], "id long, adult boolean")
    new = spark.createDataFrame(
        [(0, False), (1, True), (2, False)], "id long, adult boolean"
    )
    assert change_summary(old, new) == (1, 0, 1)


def test_change_summary_schema_change_counts_every_common_row(spark):
    # Different column lists differ in every common row (the reference
    # hashes rows of different widths). xxhash64 skips nulls, so a row
    # hash alone would call rows equal when the added column is all-null.
    old = spark.createDataFrame([(0, False), (1, True)], "id long, adult boolean")
    for tvdb_id in (None, 7):
        new = spark.createDataFrame(
            [(0, False, tvdb_id), (1, True, tvdb_id), (2, False, tvdb_id)],
            "id long, adult boolean, tvdb_id long",
        )
        assert change_summary(old, new) == (1, 0, 2)
        assert change_summary(new, old) == (0, 1, 2)


def _stats_by_name(df_stats):
    return {r["name"]: r for r in rows(df_stats, order_by=None)}


def test_compute_stats_bools_and_unique(spark):
    old = spark.createDataFrame([(0, False), (1, False)], "id long, adult boolean")
    new = spark.createDataFrame(
        [(0, False), (1, True), (2, False)], "id long, adult boolean"
    )
    s = _stats_by_name(compute_stats(old, new))
    assert s["id"]["unique"] == "true"
    assert s["id"]["null"] == ""
    assert s["adult"]["true"] == "1 (33.3%)"
    assert s["adult"]["false"] == "2 (66.7%)"
    assert s["adult"]["updated"] == "1 (33.3%)"
    assert s["adult"]["unique"] == ""
    # column order preserved
    assert [r["name"] for r in rows(compute_stats(old, new), order_by=None)] == [
        "id",
        "adult",
    ]


def test_compute_stats_nulls_counted(spark):
    df = spark.createDataFrame([(0, None), (1, 5), (2, 5)], "id long, v long")
    s = _stats_by_name(compute_stats(df, df))
    assert s["v"]["null"] == "1 (33.3%)"
    assert s["v"]["unique"] == ""  # two non-null values equal
    assert s["v"]["updated"] == ""  # self-compare


def test_compute_stats_null_change_not_counted_as_update(spark):
    # null→value transitions use null-propagating != (not counted).
    old = spark.createDataFrame([(0, None), (1, 1)], "id long, v long")
    new = spark.createDataFrame([(0, 5), (1, 2)], "id long, v long")
    s = _stats_by_name(compute_stats(old, new))
    assert s["v"]["updated"] == "1 (50.0%)"


def test_compute_stats_length_mismatch_pads_with_null(spark):
    # extra ids in new pair with null on the old side → not "updated".
    old = spark.createDataFrame([(0, 1)], "id long, v long")
    new = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "id long, v long")
    s = _stats_by_name(compute_stats(old, new))
    assert s["v"]["updated"] == ""


def test_compute_stats_empty(spark):
    df = spark.createDataFrame([], "id long, v long")
    s = _stats_by_name(compute_stats(df, df))
    assert s["id"]["null"] == ""
    assert s["id"]["unique"] == "true"  # 0 distinct == 0 non-null


def test_compute_stats_approx_mode(spark):
    from tmdb_index_spark.operators.stats import compute_stats

    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id long, v string")
    exact = {r["name"]: r["unique"] for r in compute_stats(df, df).collect()}
    approx = {r["name"]: r["unique"] for r in compute_stats(df, df, approx=True).collect()}
    # HLL at this cardinality lands within 5%, so the flags agree.
    assert exact == approx == {"id": "true", "v": "true"}


def test_dq_checks_detect_planted_violations(spark):
    from tmdb_index_spark.operators.checks import (
        check_foreign_key,
        check_non_null,
        check_range,
        check_unique,
        run_checks,
    )

    child = spark.createDataFrame(
        [(1, 10, 0.5), (1, 20, -0.1), (2, 99, 1.5), (3, None, 0.2)],
        "k long, fk long, v double",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    out = {
        r.check: r.n_violations
        for r in run_checks(
            [
                check_unique(child, ["k"]),
                check_non_null(child, "fk"),
                check_range(child, "v", lo=0.0, hi=1.0),
                check_foreign_key(child, "fk", parent, "pk"),
            ]
        ).collect()
    }
    # both rows of the duplicated key count, null fk is not an fk orphan
    assert out == {
        "unique(k)": 2,
        "non_null(fk)": 1,
        "range(v)": 2,
        "fk(fk)": 1,
    }


def test_dq_multi_check_forms_match_singles(spark):
    # the single-pass forms (check_unique_multi, check_scalars) must
    # report the SAME numbers as their one-check-per-pass twins,
    # including null-key grouping and composite keys
    from tmdb_index_spark.operators.checks import (
        check_non_null,
        check_range,
        check_scalars,
        check_unique,
        check_unique_multi,
    )

    df = spark.createDataFrame(
        [
            (1, "a", 0.5, 7),
            (1, "a", -0.1, None),
            (1, "b", 0.2, 3),
            (None, "a", 1.5, 3),
            (None, "a", 0.9, None),
            (2, None, 0.1, 5),
        ],
        "k long, g string, v double, w long",
    )
    multi = {
        r.check: r.n_violations
        for r in check_unique_multi(df, [["k"], ["k", "g"]]).collect()
    }
    singles = {
        r.check: r.n_violations
        for r in check_unique(df, ["k"])
        .unionByName(check_unique(df, ["k", "g"]))
        .collect()
    }
    # (1,a) twice and (None,a) twice -> null keys group like groupBy
    assert multi == singles == {"unique(k)": 5, "unique(k,g)": 4}

    scal = {
        r.check: r.n_violations
        for r in check_scalars(
            df, non_null=["w"], ranges=[("v", 0.0, 1.0)]
        ).collect()
    }
    singles2 = {
        r.check: r.n_violations
        for r in check_non_null(df, "w")
        .unionByName(check_range(df, "v", 0.0, 1.0))
        .collect()
    }
    assert scal == singles2 == {"non_null(w)": 2, "range(v)": 2}


def test_dq_clean_table_reports_zero(spark):
    from tmdb_index_spark.operators.checks import check_range, check_unique, run_checks

    df = spark.createDataFrame([(1, 0.1), (2, 0.9)], "k long, v double")
    out = {
        r.check: r.n_violations
        for r in run_checks(
            [check_unique(df, ["k"]), check_range(df, "v", 0.0, 1.0)]
        ).collect()
    }
    assert set(out.values()) == {0}


# ---------------------------------------------------------------------------
# fd_profile (functional-dependency discovery)
# ---------------------------------------------------------------------------


def test_fd_profile_holding_and_violated(spark):
    from tmdb_index_spark.operators.checks import fd_profile

    df = spark.createDataFrame(
        [
            (1, "a", 10),
            (1, "a", 11),  # x->y holds for x=1
            (2, "b", 12),
            (2, "c", 13),  # x->y violated for x=2 (2 rows)
        ],
        "x int, y string, z int",
    )
    got = {
        r["candidate"]: r
        for r in fd_profile(df, [("x", "y"), ("z", "y")]).collect()
    }
    xy = got["x->y"]
    assert xy["n_groups"] == 2
    assert xy["n_violating_groups"] == 1
    assert xy["n_violating_rows"] == 2
    assert xy["violation_rate"] == 0.5
    # z is unique per row → z->y trivially holds
    zy = got["z->y"]
    assert zy["n_violating_groups"] == 0
    assert zy["violation_rate"] == 0.0


def test_fd_profile_requires_candidates(spark):
    import pytest as _pytest

    from tmdb_index_spark.operators.checks import fd_profile

    df = spark.createDataFrame([(1, 2)], "x int, y int")
    with _pytest.raises(ValueError):
        fd_profile(df, [])


def test_check_unique_multi_names_and_known_count(spark):
    """Round-13 ADVICE hardening: a names list that doesn't pair up
    with key_sets raises up front (the gated path would IndexError,
    the exact path would silently drop names), and a caller-supplied
    ``n_rows`` decides the scale gate without an extra count() job."""
    import pytest as _pytest

    from tmdb_index_spark.operators.checks import check_unique_multi

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k int, g string"
    )
    with _pytest.raises(ValueError, match="names has 1"):
        check_unique_multi(df, [["k"], ["k", "g"]], names=["only-one"])
    # n_rows above the gate → sketch schema, below → exact schema;
    # neither path may trigger a count() (we pass the decision in)
    est = check_unique_multi(
        df, [["k"]], max_exact_rows=2, n_rows=3
    )
    assert "approx_unique" in est.columns
    exact = check_unique_multi(
        df, [["k"]], max_exact_rows=5, n_rows=3
    )
    assert exact.collect()[0]["n_violations"] == 2


def test_canon_key_marker_bytes_do_not_collide(spark):
    """The canonical composite-key encoding escapes its own marker
    bytes (round-12 advisor): values containing the unit separator or
    the null marker must not make distinct keys encode identically —
    check_unique_multi agrees with check_unique's raw groupBy."""
    from tmdb_index_spark.operators.checks import (
        check_unique,
        check_unique_multi,
    )

    rows = [
        ("a\x01b", "c"),      # separator inside a value
        ("a", "b\x01c"),      # ... shifted across the boundary
        ("\x00N", "y"),       # value EQUAL to the null marker ...
        (None, "y"),          # ... vs an actual NULL
        ("\x02e", "\x02"),    # raw escape bytes
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    exact = check_unique(df, ["a", "b"]).collect()[0]["n_violations"]
    multi = check_unique_multi(df, [["a", "b"]]).collect()[0][
        "n_violations"
    ]
    assert exact == 0 and multi == 0
    # genuinely equal keys still collide after escaping
    df2 = df.union(spark.createDataFrame([rows[0]], "a string, b string"))
    assert (
        check_unique_multi(df2, [["a", "b"]]).collect()[0]["n_violations"]
        == 2
    )


def test_canon_key_sql_mirror_matches_spark(spark):
    """canon_key_sql is the byte-exact DuckDB mirror of _canon_key:
    the portable-HLL uniqueness audit hash-matches its oracle even on
    marker-byte-bearing values."""
    import duckdb
    import pandas as pd

    from tmdb_index_spark.operators.checks import (
        canon_key_sql,
        check_unique_hll,
    )
    from tmdb_index_spark.operators.sketches import portable_hll_oracle_sql

    rows = [
        ("a\x01b", "c"),
        ("a", "b\x01c"),
        (None, "\x00N"),
        ("\x02e", None),
        ("v", "w"),
        ("v", "w"),
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    got = check_unique_hll(df, ["a", "b"]).collect()[0]
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["a", "b"]))
    sql = portable_hll_oracle_sql(
        key_sql=canon_key_sql(["a", "b"]),
        group_sql="'unique(a,b)'",
        group_alias='"check"',
        from_sql="t",
        b=10,
        out_col="approx_unique",
        count_col="n_rows",
    )
    o = con.sql(sql).fetchall()[0]
    assert (o[1], o[2]) == (got["approx_unique"], got["n_rows"])
    assert got["n_rows"] == 6


def test_check_scalars_metacharacter_column_names(spark):
    """Check labels are typed literals, not SQL-literal splices
    (round-12 advisor): a quote/backslash in a column name flows
    through verbatim."""
    from tmdb_index_spark.operators.checks import check_scalars

    df = spark.range(3).toDF("id").withColumnRenamed("id", "it's\\col")
    out = check_scalars(df, non_null=["it's\\col"]).collect()
    assert len(out) == 1
    assert out[0]["check"] == "non_null(it's\\col)"
    assert out[0]["n_violations"] == 0


def test_check_unique_multi_gate_routes_to_hll(spark):
    """Round-13 scale gate: past max_exact_rows the uniqueness checks
    route to the portable-HLL twin and surface with ITS schema; below
    it (or with the default None) the exact path is untouched; a mixed
    run_checks unions by name with NULLs marking the other kind."""
    from tmdb_index_spark.operators.checks import (
        check_non_null,
        check_unique_multi,
        run_checks,
    )

    rows = [(i % 80, i % 7, i) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, g int, v long")

    exact = check_unique_multi(df, [["k"]], max_exact_rows=1000)
    assert exact.columns == ["check", "n_violations"]
    # keys 0..19 appear twice (i and i+80), 20..79 once -> 40 members
    assert exact.collect()[0]["n_violations"] == 40

    approx = check_unique_multi(
        df, [["k"], ["k", "g"]], max_exact_rows=50
    )
    assert approx.columns == ["check", "approx_unique", "n_rows"]
    got = {r["check"]: r for r in approx.collect()}
    assert set(got) == {"unique(k)", "unique(k,g)"}
    assert got["unique(k)"]["n_rows"] == 100
    assert abs(got["unique(k)"]["approx_unique"] - 80) <= 8

    mixed = run_checks([exact, check_non_null(df, "v"), approx]).collect()
    by_check = {}
    for r in mixed:
        by_check.setdefault(r["check"], []).append(r)
    # exact rows: n_violations set, estimate columns NULL
    ex = by_check["non_null(v)"][0]
    assert ex["n_violations"] == 0 and ex["approx_unique"] is None
    # approx rows: the reverse
    ap = by_check["unique(k,g)"][0]
    assert ap["n_violations"] is None and ap["approx_unique"] is not None
